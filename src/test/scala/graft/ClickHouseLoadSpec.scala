package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, ResultSetMetaData, SQLException, Statement, Types}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sinks.ClickHouseSink

/** A `java.sql.Driver` for `jdbc:record:` URLs that records every
  * statement it is asked to run and answers as a server holding the
  * tables created through it would. Spark's JDBC append probes the
  * target twice with `SELECT 1 FROM t WHERE 1=0` (does it exist?) and
  * `SELECT * FROM t WHERE 1=0` (its columns), and probes the columns
  * again after the insert to build the relation it returns: a created
  * table answers them with an empty result set carrying the CREATE's
  * column names (plain names only), any other with an `SQLException`.
  * Connection, statements, result sets and their metadata are JDK
  * proxies; every other call answers zero, false or null.
  */
class RecordingDriver extends java.sql.Driver {
  import RecordingDriver._

  def acceptsURL(url: String): Boolean = url != null && url.startsWith("jdbc:record:")
  def connect(url: String, info: java.util.Properties): Connection =
    if (acceptsURL(url)) connection() else null
  def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
}

object RecordingDriver {

  /** `kind` is `execute` (a Statement's SQL), `batch` (one executed
    * INSERT batch of `rows` rows) or `query`.
    */
  final case class Call(kind: String, sql: String, rows: Int = 0)

  val calls = new ConcurrentLinkedQueue[Call]()

  lazy val register: Unit = DriverManager.registerDriver(new RecordingDriver)

  private type Answer = PartialFunction[(String, Array[AnyRef]), AnyRef]

  private def proxy[T](iface: Class[T])(answer: Answer): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(self: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = Option(args).getOrElse(Array.empty[AnyRef])
          (m.getName, a.length) match {
            case ("hashCode", 0) => Int.box(System.identityHashCode(self))
            case ("equals", 1) => Boolean.box(self eq a(0))
            case ("toString", 0) => s"recording ${iface.getSimpleName}"
            case _ => answer.applyOrElse((m.getName, a), (_: (String, Array[AnyRef])) => zero(m))
          }
        }
      }).asInstanceOf[T]

  private def zero(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Int.box(0)
    case java.lang.Long.TYPE => Long.box(0L)
    case java.lang.Short.TYPE => Short.box(0)
    case java.lang.Byte.TYPE => Byte.box(0)
    case java.lang.Double.TYPE => Double.box(0.0)
    case java.lang.Float.TYPE => Float.box(0f)
    case r if r.isInterface && r.getPackageName == "java.sql" =>
      proxy(r.asInstanceOf[Class[AnyRef]])(PartialFunction.empty)
    case _ => null
  }

  /** Column names of each table a recorded CREATE made. */
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val Create = """CREATE TABLE IF NOT EXISTS (\S+) \((.*)\) ENGINE = .*""".r
  private val Probe = """SELECT (1|\*) FROM (\S+) WHERE 1=0""".r

  private def record(kind: String, sql: String): AnyRef = {
    calls.add(Call(kind, sql))
    sql match {
      case Create(t, cols) => tables.put(t, cols.split(", ").map(_.takeWhile(_ != ' ')).toSeq)
      case _ =>
    }
    java.lang.Boolean.FALSE
  }

  private def query(sql: String): ResultSet = {
    calls.add(Call("query", sql))
    val cols = sql match {
      case Probe(what, t) if tables.containsKey(t) => if (what == "*") tables.get(t) else Seq("1")
      case _ => throw new SQLException(s"no such table: $sql")
    }
    val meta = proxy(classOf[ResultSetMetaData]) {
      case ("getColumnCount", _) => Int.box(cols.size)
      case ("getColumnLabel" | "getColumnName", Array(i: Integer)) => cols(i - 1)
      case ("getColumnType", _) => Int.box(Types.VARCHAR)
      case ("getColumnTypeName", _) => "String"
      case ("isNullable", _) => Int.box(ResultSetMetaData.columnNullable)
    }
    proxy(classOf[ResultSet]) { case ("getMetaData", _) => meta }
  }

  private def statement(): Statement = proxy(classOf[Statement]) {
    case ("execute" | "executeUpdate", Array(sql: String, _*)) => record("execute", sql)
    case ("executeQuery", Array(sql: String)) => query(sql)
  }

  private def prepared(sql: String): PreparedStatement = {
    var pending = 0
    proxy(classOf[PreparedStatement]) {
      case ("addBatch", Array()) => pending += 1; null
      case ("executeBatch", Array()) =>
        calls.add(Call("batch", sql, pending))
        val counts = Array.fill(pending)(1)
        pending = 0
        counts
      case ("execute" | "executeUpdate", Array()) => record("execute", sql)
      case ("executeQuery", Array()) => query(sql)
    }
  }

  private def connection(): Connection = proxy(classOf[Connection]) {
    case ("createStatement", _) => statement()
    case ("prepareStatement", Array(sql: String, _*)) => prepared(sql)
  }
}

/** The live load of `graft.Migrate`, run against [[RecordingDriver]]:
  * each table's plan must execute exactly the statements the dry run
  * prints, in report order.
  */
class ClickHouseLoadSpec extends SparkFunSuite {
  import RecordingDriver.Call

  private val fixture = "src/test/resources/sqlite/fixture.db"

  /** (CREATE, the table's INSERT batches smallest first, OPTIMIZE) per
    * table, in the order recorded; probes (`query`) left out.
    */
  private def segments(calls: Seq[Call]): Seq[(Call, Seq[Call], Call)] =
    calls.filter(_.kind != "query") match {
      case Seq() => Seq()
      case create +: rest =>
        val (batches, tail) = rest.span(_.kind == "batch")
        assert(tail.nonEmpty, s"no statement after ${create.sql}")
        (create, batches.sortBy(_.rows), tail.head) +: segments(tail.tail)
    }

  test("the live load executes each table's printed CREATE, INSERT " +
      "batches of at most --chunk-size rows and the printed OPTIMIZE") {
    RecordingDriver.register
    val dir = java.nio.file.Files.createTempDirectory("graft_load").toString
    try {
      val cfg = Migrate.parse(Array("--sqlite", fixture, "--chunk-size", "1000",
        "--clickhouse-host", "ch", "--out", s"$dir/live"))
      val reports = Migrate.stage(spark, cfg)

      val stdout = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
        Migrate.main(Array("--sqlite", fixture, "--chunk-size", "1000",
          "--dry-run", "--out", s"$dir/dry"))
      }
      // the three lines after each "-- table t:" line
      val printed = stdout.toString("UTF-8").linesIterator.toSeq.sliding(4)
        .collect { case Seq(h, ddl, insert, optimize) if h.startsWith("-- table ") =>
          h.stripPrefix("-- table ").takeWhile(_ != ':') -> (ddl, insert, optimize)
        }.toMap
      assert(printed.keySet == reports.map(_.table).toSet)

      def load(): Seq[Call] = {
        RecordingDriver.calls.clear()
        reports.foreach { r =>
          val plan = ClickHouseSink.plan(r, cfg.chHost, cfg.chPort, cfg.chunkSize)
          ClickHouseSink.load(spark, plan.copy(url = "jdbc:record:ch"),
            s"${cfg.out}/${r.table}", cfg.chUser, cfg.chPassword)
        }
        RecordingDriver.calls.asScala.toSeq
      }
      val first = load()
      assert(first.filter(_.kind == "query").forall(_.sql.endsWith(" WHERE 1=0")), first)
      val tables = segments(first)
      assert(tables.size == reports.size)
      reports.zip(tables).foreach { case (r, (create, batches, optimize)) =>
        val (ddl, insert, opt) = printed(r.table)
        assert(create == Call("execute", ddl))
        assert(ddl.contains("ENGINE = ReplacingMergeTree ORDER BY "), ddl)
        // Spark's parameterised INSERT into the printed preamble's table
        val into = insert.takeWhile(_ != '(')
        assert(batches.nonEmpty && batches.forall(b =>
          b.sql.startsWith(into + "(") && b.rows >= 1 && b.rows <= 1000), batches)
        assert(batches.map(_.rows.toLong).sum == r.rows, r.table)
        assert(optimize == Call("execute", opt))
      }
      // CREATE TABLE IF NOT EXISTS: a second run issues the same sequence
      assert(segments(load()) == tables)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
