#!/usr/bin/env python3
"""Count the processes one benchmark run's JVM forks, by command.

Runs ``python3 perfbench/run.py`` once with a JFR recording on the
benchmark JVM (``JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=...``) and
prints its ``jdk.ProcessStart`` events, as ``/usr/bin/jfr`` reads them,
counted by command with path arguments dropped: ``chmod 0644 /a/b``
counts as ``chmod 0644``. The benchmark's build is warmed first
(``perfbench/run.py``'s own ``build``), so no sbt JVM is recorded.

Run from the root of a graft checkout:

    python3 tools/count_forks.py --workload migrate --seed 1 --seconds 15

The last line is run.py's own JSON summary (correct, attempted, failed);
a migrate run migrates ``attempted`` + 2 times (its check pass runs two).
"""
import argparse
import collections
import glob
import json
import os
import subprocess
import sys
import tempfile

JFR = "/usr/bin/jfr"


def commands(recording):
    """The command line of every jdk.ProcessStart event in `recording`."""
    out = subprocess.run([JFR, "print", "--json", "--events", "jdk.ProcessStart",
                          recording], check=True, stdout=subprocess.PIPE, text=True)
    events = json.loads(out.stdout)["recording"]["events"]
    return [e["values"]["command"] for e in events]


def shape(command):
    """`command` without its path arguments."""
    return " ".join(w for w in command.split() if not w.startswith("/")) or command


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="migrate")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import run as bench  # perfbench/run.py
    bench.build(root, timeout=1800)

    with tempfile.TemporaryDirectory(prefix="graft-forks-") as rec:
        env = dict(os.environ, JAVA_TOOL_OPTIONS=(
            f"-XX:StartFlightRecording=filename={rec},dumponexit=true"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                            "--seed", str(args.seed), "--seconds", str(args.seconds)],
                           env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        recordings = sorted(glob.glob(os.path.join(rec, "*.jfr")))
        if p.returncode != 0 or not recordings:
            sys.exit(f"count_forks: run.py exited {p.returncode} with "
                     f"{len(recordings)} recordings")
        counts = collections.Counter(
            shape(c) for r in recordings for c in commands(r))
    print(f"jdk.ProcessStart: {sum(counts.values())} in {len(recordings)} JVM(s)")
    for command, n in counts.most_common():
        print(f"{n:8d}  {command}")
    print(p.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    main()
