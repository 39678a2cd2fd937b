package graft.ext

import graft.{ScaleStress, SparkSpec, Td}
import org.apache.spark.sql.functions._

/** Invariants of the [[graft.ScaleStress]] corpus expansion — the properties
  * that make the factor× corpus a FAIR scale-up (workload grows factor×,
  * not factor²):
  *
  *  - row counts grow exactly factor×, replica id spaces are disjoint, and
  *    replica 0 is the original data byte-for-byte;
  *  - the embedding perturbation is a ±1 diagonal, so within-replica
  *    cosines are EXACTLY preserved (sign flips are exact in IEEE, and the
  *    sum order is unchanged) — each replica carries the original near-dup
  *    structure;
  *  - the document perturbation splices a replica-unique token into the
  *    word stream, so a doc's cross-replica twin shares only the
  *    token-free word-3-gram shingles — Jaccard far below the 0.8 dedup
  *    threshold, so replicas don't pair with each other.
  *
  * Also: the command line rejects an unknown mode before any expansion.
  */
class ScaleStressSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("scale_stress_spec").toString
    ScaleStress.expand(spark, sf, dir, factor = 3)
    dir
  }

  test("expansion: counts grow factor x, id spaces disjoint, replica 0 is the original") {
    val docs0 = Td(spark, sf, "documents")
    val docsX = spark.read.parquet(s"$out/documents.parquet")
    assert(docsX.count() === 3 * docs0.count())
    val emb0 = Td(spark, sf, "embeddings")
    val embX = spark.read.parquet(s"$out/embeddings.parquet")
    assert(embX.count() === 3 * emb0.count())
    // replica r occupies [r*Off, r*Off + |orig|) — no id collides
    assert(docsX.select("doc_id").distinct().count() === docsX.count())
    // replica 0 rows are the originals, untouched (anti-join both ways empty)
    val rep0 = docsX.filter(col("doc_id") < 100000000L)
    assert(rep0.exceptAll(docs0.select(docsX.columns.map(col).toSeq: _*)).count() === 0)
    assert(docs0.select(docsX.columns.map(col).toSeq: _*).exceptAll(rep0).count() === 0)
  }

  test("embedding sign-flip preserves within-replica cosine exactly") {
    val embX = spark.read.parquet(s"$out/embeddings.parquet")
    val r0 = embX.filter(col("vec_id") < 100000000L)
    val r2 = embX.filter(col("vec_id") >= 200000000L)
      .withColumn("vec_id", col("vec_id") - 200000000L)
    // same threshold as the d6 family: identical pair sets with identical
    // cosine values, bit for bit
    val p0 = Similarity.cosinePairs(r0, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b", "cos")
    val p2 = Similarity.cosinePairs(r2, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b", "cos")
    assert(p0.exceptAll(p2).count() === 0)
    assert(p2.exceptAll(p0).count() === 0)
    assert(p0.count() > 0) // the fixture actually has near-dups to preserve
  }

  test("document token splice keeps cross-replica twins below the dedup threshold") {
    val docsX = spark.read.parquet(s"$out/documents.parquet")
    val ids = docsX.filter(col("doc_id") < 100000000L)
      .orderBy(col("doc_id")).limit(25)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val sample = docsX.filter(
      col("doc_id").isin(ids: _*) ||
        (col("doc_id") - 100000000L).isin(ids: _*) &&
        col("doc_id") < 200000000L)
    val pairs = Dedup.jaccardPairs(
      Dedup.shingleIndex(sample, "doc_id", "text", 3), "doc_id")
    // a doc and its replica-1 twin: id_b - id_a == Off
    val twins = pairs.filter(col("id_b") - col("id_a") === 100000000L)
    assert(twins.count() === 25L) // every twin shares ≥1 token-free shingle
    val maxJ = twins.agg(max(col("jaccard"))).head.getDouble(0)
    assert(maxJ < 0.8, s"twin jaccard $maxJ reached the dedup threshold")
  }

  test("an unknown mode is rejected before any expansion, naming the modes") {
    val dir = java.nio.file.Files.createTempDirectory("scale_stress_mode").toString
    val e = intercept[IllegalArgumentException](
      ScaleStress.main(Array(sf, dir, "2", "1", "lexpol")))
    assert(e.getMessage.contains("lexpol") && e.getMessage.contains("lexpoll"),
      e.getMessage)
    assert(new java.io.File(dir).list().isEmpty, "nothing was expanded")
  }
}
