package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.GraftExtensions

/** The SQL functions `GraftExtensions` registers, each timed on its own
  * over the `documents` and `embeddings` tables with the full result
  * computed. Inputs are derived and cached first, so each timing covers the
  * function over a cached scan.
  */
object Functions {
  val Reps = 3

  def time(spark: SparkSession, dir: String): Map[String, Double] = {
    GraftExtensions.ensureInstalled(spark)
    spark.read.parquet(s"$dir/documents.parquet")
      .createOrReplaceTempView("pb_documents")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .createOrReplaceTempView("pb_embeddings")
    def cached(view: String, sql: String): Unit = {
      val df = spark.sql(sql).persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df.createOrReplaceTempView(view)
    }
    cached("pb_docs", """SELECT doc_id, lang, source, text, n_chars,
      |  split(lower(text), ' ') AS w,
      |  transform(split(lower(text), ' '), x -> xxhash64(x)) AS hs_raw,
      |  array_sort(array_distinct(
      |    transform(split(lower(text), ' '), x -> xxhash64(x)))) AS hs,
      |  array_sort(array_distinct(transform(
      |    slice(split(lower(text), ' '), 2, 100000), x -> xxhash64(x)))) AS hs2
      |FROM pb_documents""".stripMargin)
    cached("pb_words", """SELECT doc_id, source, word, xxhash64(word) AS h,
      |  xxhash64(word) & 1152921504606846975 AS h60
      |FROM pb_docs LATERAL VIEW explode(w) t AS word""".stripMargin)
    cached("pb_emb", """SELECT vec_id, label,
      |  transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qe,
      |  reverse(transform(embedding,
      |    x -> CAST(round(x * 1000) AS BIGINT))) AS qe2
      |FROM pb_embeddings""".stripMargin)
    val dims = spark.sql("SELECT max(size(qe)) FROM pb_emb").head().getInt(0)
    val queries = Seq(
      "dot_long" -> "SELECT vec_id, dot_long(qe, qe2) FROM pb_emb",
      "minhash_sigs" -> "SELECT doc_id, minhash_sigs(w, 16) FROM pb_docs",
      "vec_sum_long" ->
        "SELECT label, vec_sum_long(qe) FROM pb_emb GROUP BY label",
      "intersect_count_sorted" ->
        "SELECT doc_id, intersect_count_sorted(hs, hs2) FROM pb_docs",
      "simhash_bits" -> "SELECT doc_id, simhash_bits(hs_raw) FROM pb_docs",
      "shingles3" -> "SELECT doc_id, shingles3(text) FROM pb_docs",
      "local_components" -> """SELECT doc_id, local_components(zip_with(
        |  slice(hs_raw, 1, size(hs_raw) - 1), slice(hs_raw, 2, size(hs_raw)),
        |  (a, b) -> named_struct('src', pmod(a, 64), 'dst', pmod(b, 64))))
        |FROM pb_docs WHERE size(hs_raw) >= 2""".stripMargin,
      "mink_sample" -> """SELECT source, mink_sample(struct(
        |  pmod(xxhash64(doc_id), 1000000007) AS hv, doc_id,
        |  CAST(size(w) AS BIGINT) AS n), 8)
        |FROM pb_docs GROUP BY source""".stripMargin,
      "srp_band_keys" ->
        s"SELECT vec_id, srp_band_keys(qe, 4, 8, $dims) FROM pb_emb",
      "sum_weighted_entries" -> """SELECT lang, sum_weighted_entries(
        |  transform(slice(w, 1, 10),
        |    x -> named_struct('k', x, 'v', CAST(1 AS BIGINT))),
        |  CAST(n_chars AS BIGINT))
        |FROM pb_docs GROUP BY lang""".stripMargin,
      "kmv_sketch" ->
        "SELECT source, kmv_sketch(h60, 64) FROM pb_words GROUP BY source",
      "bloom_filter_agg" ->
        "SELECT source, bloom_filter_agg(h) FROM pb_words GROUP BY source",
      "might_contain" -> """SELECT word, might_contain((SELECT
        |  bloom_filter_agg(h) FROM pb_words WHERE source = 'src0'), h)
        |FROM pb_words""".stripMargin)
    val timings = queries.map { case (name, sql) =>
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        FullResult.of(spark.sql(sql))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      s"functions.${name}_s" -> secs(Reps / 2)
    }.toMap
    spark.catalog.clearCache()
    timings
  }
}
