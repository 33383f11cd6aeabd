package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** The shared scrub→score stage of the cleaning pipeline (SURVEY.md §2
  * C17). Batch `pipeline_clean` and the streaming reference in
  * StreamingCleanSpec both build on THIS column tree, so their
  * equivalence spec compares two plans that share the stateless prefix
  * by construction and differ only in the dedup mechanism (keeper
  * window vs watermark state).
  *
  * Everything here is codegen'd column arithmetic in the scan stage —
  * no shuffle, no state; at 100 TB this fuses into one pass over the
  * text regardless of batch or stream execution.
  */
object CleanPipeline {

  /** PII-ish scrub: emails then digit runs, as in the reference
    * pipeline's text normalization stage.
    */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]+", "<NUM>")

  /** Scrub + quality-score + content-hash: keeps every non-text input
    * column and adds (n_tokens, quality, h). `h` is md5 of the
    * scrubbed text — the dedup key downstream, 16 bytes per row across
    * any later shuffle instead of the text itself.
    */
  def scored(df: DataFrame, textCol: String = "text"): DataFrame = {
    val m = df
      .withColumn("t", scrub(col(textCol)))
      .withColumn("n_chars", length(col("t")).cast("long"))
      .withColumn("n_alpha", T.alphaCount(col("t")))
      .withColumn("n_ws", T.whitespaceCount(col("t")))
      .withColumn("n_tokens", T.tokenCount(col("t")))
      .withColumn("n_stop", T.stopwordHits(col("t"), T.stopwords.head._2))
    m.withColumn("quality", T.qualityScore(
        T.ratio(col("n_alpha"), col("n_chars")),
        T.ratio(col("n_chars") - col("n_ws"), col("n_tokens")),
        T.ratio(col("n_stop"), col("n_tokens"))))
      .withColumn("h", md5(col("t")))
      .drop("t", "n_chars", "n_alpha", "n_ws", "n_stop", textCol)
  }
}
