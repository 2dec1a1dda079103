package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Benchmark decontamination — the GPT-3/Llama-style pretraining step that
  * flags any training document sharing a word n-gram with an evaluation
  * set, so test questions don't leak into the training corpus (Brown et
  * al. 2020 appendix C: 13-gram overlap; Touvron et al. 2023 use
  * token-level n-grams — the operator takes n as a parameter).
  */
object Decontaminate {

  /** Flag every doc that shares at least one lowercased word `n`-gram with
    * `benchmark`. Returns (id, contaminated BOOLEAN) for EVERY input doc —
    * a verdict, not a silent filter, so a pipeline can count and audit
    * what it dropped (join back and filter to apply). Docs shorter than
    * `n` tokens emit no grams and are never contaminated; same for
    * benchmark rows.
    *
    * Matching is on the exact lowercased whitespace-token n-gram — the
    * published recipe's shape — and both sides tokenize with the SAME
    * [[TextFns.ngrams]]/[[TextFns.loweredTokens]] kernels the rest of the
    * engine uses (and that q17/q48 gate cross-engine).
    *
    * Scale shape: benchmark gram sets are small next to a training corpus
    * (an eval suite is MBs, the corpus is TBs) — distinct'ed and
    * broadcast, so the corpus side is ONE projection + explode +
    * broadcast-hash semi-join, no corpus shuffle; the only keyed shuffle
    * is the final per-id distinct of hit ids, over a slim (id) stream. A
    * benchmark too large to broadcast degrades gracefully: drop the
    * broadcast hint and the same plan shuffle-joins.
    */
  def contaminationFlags(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text"): DataFrame = {
    require(n > 0, "n must be positive")
    def grams(df: DataFrame, c: String) = df
      .select(df.columns.toIndexedSeq.map(col) :+ TextFns.loweredTokens(col(c)).as("__ltk"): _*)
      .select(col("*"), explode(TextFns.ngrams(col("__ltk"), n)).as("__g"))
    val bg = grams(benchmark, benchTextCol).select("__g").distinct()
    // corpus side spread first: the tokenize + n-gram explode otherwise
    // runs at raw scan parallelism (no-op at real scale)
    val hits = grams(graft.util.PlanSize.spread(
      docs.select(col(idCol).cast("long").as("id"), col(textCol))), textCol)
      .select("id", "__g")
      .join(broadcast(bg), Seq("__g"), "left_semi")
      .select("id").distinct()
      .withColumn("contaminated", lit(true))
    docs.select(col(idCol).cast("long").as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }
}
