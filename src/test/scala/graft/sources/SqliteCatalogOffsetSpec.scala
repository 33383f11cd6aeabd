package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** A catalog-CDC offset is a JSON map `{table -> max rowid}`. A
  * restarted stream reads it back from its checkpoint, so every table
  * name must survive `offset -> json -> offset` exactly, including
  * the characters the encoder escapes.
  */
class SqliteCatalogOffsetSpec extends AnyFunSuite {

  // the stream reads no file until it plans a batch
  private val stream =
    new SqliteCatalogCdcStream("/nonexistent.db", "*", maxPartitions = 4)

  test("offsets round-trip table names with a quote, a backslash, a " +
      "newline, a tab and U+0001") {
    // the encoder's canonical form: keys sorted, \uXXXX for controls
    val json = "{\"a\\\"q\":1,\"b\\\\s\":-2,\"c\\nn\":3,\"d\\tt\":4," +
      "\"e\\u0001x\":-9223372036854775808}"
    val offset = stream.deserializeOffset(json)
    assert(offset.json() == json)
    assert(stream.deserializeOffset(offset.json()) == offset)
  }

  test("a watermark that is not an integer is refused by table name") {
    for (bad <- Seq("\"x\"", "1.5", "null", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](
        stream.deserializeOffset(s"{\"t\":$bad}"))
      assert(e.getMessage.contains("'t'"), e.getMessage)
    }
  }

  test("an end-offset table gone from the catalog is skipped only when " +
      "it has nothing new to read") {
    val live = new SqliteCatalogCdcStream(
      "src/test/resources/sqlite/index_fixture.db", "*", maxPartitions = 4)
    val start = live.deserializeOffset("{}")
    assert(live.planInputPartitions(start,
      live.deserializeOffset(s"{\"gone\":${Long.MinValue}}")).isEmpty)
    val e = intercept[IllegalStateException](live.planInputPartitions(start,
      live.deserializeOffset("{\"gone\":5}")))
    assert(e.getMessage.contains("gone"), e.getMessage)
  }
}
