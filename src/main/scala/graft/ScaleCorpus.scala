package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, content-derived corpus scaler shared by the scale-evidence
  * mains (`BenchDedupScale`, `BenchIncrementalScale`). No RNG anywhere: the
  * pair structure of the output is KNOWN by construction, so a candidate
  * count exploding superlinearly indicts the operator, not the data.
  *
  * Each source doc expands to `copies` rows keyed `doc_id * copies + j`:
  *  - j = 0: the original;
  *  - j in 1..3: NEAR-DUPS — the original plus a 2-token suffix, so
  *    trigram-shingle Jaccard stays high (the LSH recall target);
  *  - j >= 4: DISTINCT texts — a row-unique token interleaved after EVERY
  *    word, so each trigram shingle contains a token no other row has
  *    (the unique material must DOMINATE the shingle set; a suffix-only
  *    variant leaves fillers mutual near-dups — see the verify skill's
  *    round-6 gotchas).
  *
  * None of the dedup queries key on doc_id ranges, so the `*copies`
  * re-keying is safe here (unlike the ANN corpus, where id thresholds
  * select query/seed vectors and copies are keyed `vec_id + j*n_base`).
  */
object ScaleCorpus {

  /** Locale-stable 3-decimal formatting for the emitted JSON lines. */
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def scaledDocs(base: DataFrame, copies: Int): DataFrame = {
    val j = explode(sequence(lit(0), lit(copies - 1))).as("j")
    base.select(col("doc_id"), col("text"), col("lang"), col("source"), j)
      .select(
        (col("doc_id") * copies + col("j")).as("doc_id"),
        when(col("j") === 0, col("text"))
          .when(col("j") <= 3, concat(col("text"), lit(" nearcopy "), col("j")))
          .otherwise(array_join(
            flatten(transform(split(col("text"), " "), (t, i) => array(t,
              concat(lit("u"), col("doc_id") * copies + col("j"), lit("p"), i)))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))) // of the MUTATED text
  }
}
