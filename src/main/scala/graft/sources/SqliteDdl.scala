package graft.sources

/** The SQLite reader's one parser of schema SQL: the `CREATE TABLE`
  * text in `sqlite_master.sql`, which stands in for the `PRAGMA
  * table_info` / `index_list` answers sqlite itself gives. Every rule
  * that needs a table's columns or keys derives from one
  * [[parseCreateTable]] result: [[SqliteFile.listTables]]'s pk
  * ordinals, rowid alias and WITHOUT ROWID flag (and so
  * [[SqliteFile.TableDef.recordIndex]]), and [[SqliteIndex]]'s
  * autoindex slots, WITHOUT ROWID pk specs and the collation a `CREATE
  * INDEX` column inherits. `CREATE INDEX` text goes through the same
  * [[tokens]], [[splitTop]], [[unquote]] and [[modifiers]].
  *
  * Rules owned here, each sqlite's own:
  *  - Lexing: quoted names and strings ('' "" `` []) are one token
  *    each, a doubled quote inside them escapes it; line (`--`) and
  *    block comments are skipped; `(`, `)` and `,` stand alone.
  *  - An item of the column list is a table constraint when it starts
  *    with a bare constraint word (CONSTRAINT, PRIMARY, UNIQUE, CHECK,
  *    FOREIGN; all reserved), and a column definition otherwise.
  *  - A column's declared type is the text from its second token up to
  *    the first constraint word (or through a `(...)` size), dequoted
  *    when it is one quoted token; a trailing `GENERATED ALWAYS` is not
  *    part of it.
  *  - Identifiers match with A-Z folded to a-z (sqlite3StrICmp) and
  *    come out in the declared case.
  *  - Keys (PRIMARY KEY and UNIQUE) come in the order sqlite numbers
  *    its autoindexes: column-level ones at their column's position, in
  *    the order written, then table-level ones in order (sqlite gives
  *    no index, and so no number, to a rowid alias key or to a repeat
  *    of an earlier key; [[SqliteIndex.deriveAutoSpecs]] drops those).
  *    A `CONSTRAINT name` prefix is skipped. A table-level keyspec term
  *    is `name [COLLATE c] [ASC|DESC]`; an expression term is a named
  *    refusal.
  *  - The rowid alias is the one column of a rowid table's single-term
  *    PRIMARY KEY when its declared type is `INTEGER` (any case),
  *    except the column-level `INTEGER PRIMARY KEY DESC` form: that
  *    column is stored for real. The table-level `PRIMARY KEY(x DESC)`
  *    still aliases — the asymmetry is sqlite's.
  *  - A WITHOUT ROWID table is one whose text after the column list
  *    holds the words WITHOUT ROWID; it has no rowid alias.
  *  - A column with an `AS (expr)` clause is generated: STORED when
  *    the word STORED follows the expression, VIRTUAL otherwise.
  */
object SqliteDdl {

  /** One lexical token: its text as written and its [from, until)
    * offsets in the parsed string.
    */
  final case class Tok(text: String, from: Int, until: Int) {
    def quoted: Boolean = Quotes.indexOf(text.head) >= 0
    /** The keyword a bare token spells, upper-cased; "" when quoted. */
    def word: String = if (quoted) "" else text.toUpperCase
  }

  /** A collation this reader can walk: Right(nocase), or Left naming
    * one it cannot (RTRIM and custom collations).
    */
  type Collation = Either[String, Boolean]

  /** A column definition: declared name and type, its collation
    * (BINARY unless a COLLATE clause says otherwise), and for a
    * generated column its kind, VIRTUAL or STORED.
    */
  final case class Column(name: String, decl: String, collation: Collation,
                          generated: Option[String] = None)

  /** One keyspec term: the column as written, DESC, and a COLLATE that
    * overrides the column's own.
    */
  final case class KeyTerm(name: String, desc: Boolean,
                           collation: Option[Collation])

  /** A PRIMARY KEY or UNIQUE constraint. A column-level one has the
    * single term of its column; `terms` is Left naming why a
    * table-level keyspec cannot be read.
    */
  final case class Key(primary: Boolean, columnLevel: Boolean,
                       terms: Either[String, Seq[KeyTerm]])

  /** A parsed CREATE TABLE: columns in declared order, keys in
    * sqlite's autoindex numbering order, and WITHOUT ROWID.
    */
  final case class Table(columns: IndexedSeq[Column], keys: Seq[Key],
                         withoutRowid: Boolean) {
    def columnIndex(name: String): Int =
      columns.indexWhere(c => foldId(c.name) == foldId(name))

    def column(name: String): Option[Column] =
      Some(columnIndex(name)).filter(_ >= 0).map(columns)

    def primaryKey: Option[Key] = keys.find(_.primary)

    /** The PRIMARY KEY's column indexes in key order (each once). */
    def pkColumns: Seq[Int] =
      primaryKey.flatMap(_.terms.toOption).getOrElse(Nil)
        .map(t => columnIndex(t.name)).filter(_ >= 0).distinct

    /** The index of the column that aliases the rowid, if any. */
    def rowidAlias: Option[Int] =
      if (withoutRowid) None
      else primaryKey.flatMap { k =>
        k.terms.toOption.collect {
          case Seq(t) if !(k.columnLevel && t.desc) => columnIndex(t.name)
        }.filter(i => i >= 0 && columns(i).decl.equalsIgnoreCase("INTEGER"))
      }
  }

  private val Quotes = "'\"`["

  /** The words that start a constraint, and so end a column's type. All
    * are reserved, so an item of the column list that starts with one
    * is a table constraint.
    */
  private val ConstraintWords = Set("CONSTRAINT", "PRIMARY", "UNIQUE",
    "CHECK", "FOREIGN", "NOT", "NULL", "DEFAULT", "COLLATE", "REFERENCES",
    "AS")

  /** sqlite identifier equality is ASCII-case-insensitive (its
    * sqlite3StrICmp folds only A-Z), the same map NOCASE uses.
    */
  private[sources] def foldId(s: String): String = SqliteIndex.foldAscii(s)

  /** `s` lexed into tokens (see the object's rules). */
  private[sources] def tokens(s: String): IndexedSeq[Tok] = {
    val out = IndexedSeq.newBuilder[Tok]
    def comment(i: Int) = s.startsWith("--", i) || s.startsWith("/*", i)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (s.startsWith("--", i)) {
        val e = s.indexOf('\n', i)
        i = if (e < 0) s.length else e + 1
      } else if (s.startsWith("/*", i)) {
        val e = s.indexOf("*/", i + 2)
        i = if (e < 0) s.length else e + 2
      } else if ("(),".indexOf(c) >= 0) {
        out += Tok(c.toString, i, i + 1); i += 1
      } else if (Quotes.indexOf(c) >= 0) {
        val close = if (c == '[') ']' else c
        var j = i + 1
        var end = -1
        while (end < 0 && j < s.length) {
          if (s(j) != close) j += 1
          else if (close != ']' && j + 1 < s.length && s(j + 1) == close) j += 2
          else end = j
        }
        require(end > 0, s"unterminated quote in schema sql: $s")
        out += Tok(s.substring(i, end + 1), i, end + 1); i = end + 1
      } else {
        var j = i
        while (j < s.length && !s(j).isWhitespace && "(),".indexOf(s(j)) < 0 &&
            Quotes.indexOf(s(j)) < 0 && !comment(j)) j += 1
        out += Tok(s.substring(i, j), i, j); i = j
      }
    }
    out.result()
  }

  /** A quoted token's content, its doubled quotes undone; a bare token
    * as is.
    */
  private[sources] def unquote(t: String): String =
    if (t.length >= 2 && t.head == '[' && t.last == ']')
      t.substring(1, t.length - 1)
    else if (t.length >= 2 && "'\"`".indexOf(t.head) >= 0 && t.last == t.head)
      t.substring(1, t.length - 1)
        .replace(s"${t.head}${t.head}", t.head.toString)
    else t

  /** The index of the `)` that closes the `(` at `open`, or -1. */
  private[sources] def closing(toks: IndexedSeq[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** `toks` split at its top-level commas, empty groups dropped. */
  private[sources] def splitTop(toks: IndexedSeq[Tok]): Seq[IndexedSeq[Tok]] = {
    val out = Seq.newBuilder[IndexedSeq[Tok]]
    var depth = 0
    var start = 0
    for (i <- toks.indices) toks(i).text match {
      case "(" => depth += 1
      case ")" => depth -= 1
      case "," if depth == 0 =>
        out += toks.slice(start, i); start = i + 1
      case _ =>
    }
    out += toks.drop(start)
    out.result().filter(_.nonEmpty)
  }

  /** The source text a token group spans. */
  private[sources] def text(s: String, group: IndexedSeq[Tok]): String =
    s.substring(group.head.from, group.last.until)

  private def collation(t: Tok): Collation =
    unquote(t.text).toUpperCase match {
      case "BINARY" => Right(false)
      case "NOCASE" => Right(true)
      case other => Left(s"COLLATE $other")
    }

  /** A keyspec term's trailing modifiers, `[COLLATE c] [ASC|DESC]`:
    * (desc, collation override), or Left naming a token that is
    * neither.
    */
  private[sources] def modifiers(
      toks: Seq[Tok]): Either[String, (Boolean, Option[Collation])] = {
    var desc = false
    var coll = Option.empty[Collation]
    var i = 0
    while (i < toks.size) {
      toks(i).word match {
        case "ASC" =>
        case "DESC" => desc = true
        case "COLLATE" if i + 1 < toks.size =>
          coll = Some(collation(toks(i + 1))); i += 1
        case _ => return Left(s"keyspec modifier '${toks(i).text}'")
      }
      i += 1
    }
    Right((desc, coll))
  }

  /** One term of a keyspec list: `name [COLLATE c] [ASC|DESC]`, or
    * Left for an expression term or a stray modifier.
    */
  private[sources] def keyTerm(
      sql: String, term: IndexedSeq[Tok]): Either[String, KeyTerm] =
    if (term.exists(_.text == "("))
      Left(s"expression term '${text(sql, term)}'")
    else modifiers(term.tail).map { case (desc, coll) =>
      KeyTerm(unquote(term.head.text), desc, coll)
    }

  /** Parse a CREATE TABLE statement (see the object's rules). Throws
    * when the text has no column list.
    */
  def parseCreateTable(sql: String): Table = {
    val toks = tokens(sql)
    val open = toks.indexWhere(_.text == "(")
    val close = if (open < 0) -1 else closing(toks, open)
    require(close > open, s"cannot parse CREATE TABLE: $sql")
    val columns = IndexedSeq.newBuilder[Column]
    val columnKeys = Seq.newBuilder[Key]
    val tableKeys = Seq.newBuilder[Key]
    splitTop(toks.slice(open + 1, close)).foreach { item =>
      if (ConstraintWords(item.head.word)) {
        // skip a CONSTRAINT name, then PRIMARY KEY(...) or UNIQUE(...)
        val body =
          if (item.head.word == "CONSTRAINT") item.drop(2) else item
        val kind = body.headOption.map(_.word)
        if (kind.contains("PRIMARY") || kind.contains("UNIQUE")) {
          val o = body.indexWhere(_.text == "(")
          val c = if (o < 0) -1 else closing(body, o)
          val terms: Either[String, Seq[KeyTerm]] =
            if (c < 0) Left(s"no keyspec in '${text(sql, item)}'")
            else {
              val ts = splitTop(body.slice(o + 1, c)).map(keyTerm(sql, _))
              ts.collectFirst { case Left(why) => why }
                .toLeft(ts.collect { case Right(t) => t })
            }
          tableKeys +=
            Key(kind.contains("PRIMARY"), columnLevel = false, terms)
        } // CHECK / FOREIGN KEY: no key
      } else {
        val name = unquote(item.head.text)
        var i = 1
        while (i < item.size && !ConstraintWords(item(i).word) &&
            item(i).text != "(") i += 1
        if (i < item.size && item(i).text == "(") i = closing(item, i) + 1
        val typeToks = {
          val ts = item.slice(1, i)
          if (ts.map(_.word).endsWith(Seq("GENERATED", "ALWAYS")))
            ts.dropRight(2) else ts
        }
        val decl =
          if (typeToks.isEmpty) ""
          else if (typeToks.size == 1 && typeToks.head.quoted)
            unquote(typeToks.head.text)
          else text(sql, typeToks)
        var coll: Collation = Right(false)
        var generated = Option.empty[String]
        while (i < item.size) {
          item(i).word match {
            case "PRIMARY" => // PRIMARY KEY [ASC|DESC]
              val desc = item.lift(i + 2).exists(_.word == "DESC")
              columnKeys += Key(primary = true, columnLevel = true,
                Right(Seq(KeyTerm(name, desc, None))))
            case "UNIQUE" =>
              columnKeys += Key(primary = false, columnLevel = true,
                Right(Seq(KeyTerm(name, desc = false, None))))
            case "COLLATE" if i + 1 < item.size =>
              coll = collation(item(i + 1)) match {
                case Left(why) => Left(s"$why on column '$name'")
                case nocase => nocase
              }
              i += 1
            case "AS" => generated = Some("VIRTUAL")
            case "STORED" if generated.isDefined => generated = Some("STORED")
            case "(" => i = closing(item, i)
            case _ =>
          }
          i += 1
        }
        columns += Column(name, decl, coll, generated)
      }
    }
    val trailer = toks.drop(close + 1).map(_.word)
    Table(columns.result(), columnKeys.result() ++ tableKeys.result(),
      withoutRowid = trailer.sliding(2).contains(Seq("WITHOUT", "ROWID")))
  }
}
