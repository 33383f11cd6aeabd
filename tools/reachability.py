#!/usr/bin/env python3
"""List the top-level classes of src/main that no entry point reaches.

Runs `jdeps` over the compiled main classes (build them first with
`sbt compile`), walks the class-dependency graph from the entry points
and from every class named under src/main/resources/META-INF/services,
and prints each top-level class that no walk reaches. A top-level class
counts as reached when it or any of its nested classes (`Foo$`,
`Foo$Bar`, `Foo$$anon$1`, ...) is reached.

    python3 tools/reachability.py [classes_dir]

Exits 1 when anything is unreachable, 0 otherwise.
"""
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
SERVICES = os.path.join(ROOT, "src", "main", "resources", "META-INF",
                        "services")

# The CLIs (SparkEntry is the driver contract, Migrate the migration
# job), the dev mains and their shared Harness, and the session
# extensions that users install by class name.
ENTRY_POINTS = [
    "graft.SparkEntry", "graft.Migrate",
    "graft.Bench", "graft.GateSweep", "graft.JobProfile",
    "graft.MakeScaledCorpus", "graft.PlanCensus", "graft.QueryBench",
    "graft.Verify",
    "graft.Harness", "graft.GraftExtensions",
]

# `   graft.Foo$   -> graft.Bar   classes`
EDGE = re.compile(r"^\s+(\S+)\s+->\s+(\S+)\s")


def top_level(cls):
    """`graft.Foo$Bar$` -> `graft.Foo`."""
    pkg, _, simple = cls.rpartition(".")
    head = simple.split("$", 1)[0]
    return f"{pkg}.{head}" if pkg else head


def parse(lines):
    """Class -> the classes it depends on, from `jdeps -verbose:class`."""
    graph = {}
    for line in lines:
        m = EDGE.match(line)
        if m:
            graph.setdefault(m.group(1), set()).add(m.group(2))
    return graph


def service_roots(services_dir):
    """Every class named in a META-INF/services file."""
    roots = []
    if not os.path.isdir(services_dir):
        return roots
    for name in sorted(os.listdir(services_dir)):
        with open(os.path.join(services_dir, name)) as f:
            for line in f:
                cls = line.split("#", 1)[0].strip()
                if cls:
                    roots.append(cls)
    return roots


def unreachable(graph, roots):
    """Sorted top-level classes of `graph` that no root reaches."""
    root_tops = set(roots)
    stack = [c for c in graph if top_level(c) in root_tops]
    seen = set(stack)
    while stack:
        for dep in graph.get(stack.pop(), ()):
            if dep in graph and dep not in seen:
                seen.add(dep)
                stack.append(dep)
    reached = {top_level(c) for c in seen}
    return sorted({top_level(c) for c in graph} - reached)


def run_jdeps(classes_dir):
    out = subprocess.run(
        ["jdeps", "--multi-release", "17", "-verbose:class",
         "-filter:none", classes_dir],
        check=True, capture_output=True, text=True)
    return out.stdout.splitlines()


def main(argv=None, jdeps=run_jdeps, services_dir=SERVICES):
    argv = sys.argv[1:] if argv is None else argv
    classes_dir = argv[0] if argv else CLASSES
    graph = parse(jdeps(classes_dir))
    dead = unreachable(graph, ENTRY_POINTS + service_roots(services_dir))
    for cls in dead:
        print(cls)
    print(f"{len(dead)} unreachable top-level classes", file=sys.stderr)
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
