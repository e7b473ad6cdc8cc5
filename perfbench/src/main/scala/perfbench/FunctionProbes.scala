package perfbench

import graft.functions.GramPHashes.gram_phashes
import graft.functions.MinHashSigs.minhash_sigs
import graft.functions.NearestCentroid.nearest_centroid
import graft.functions.PortableHashExpr.graft_phash
import graft.functions.SimHashFp.simhash_fp
import graft.functions.WinnowFingerprints.winnow_fps
import graft.functions.WordShinglePHashes.word_shingle_phashes
import graft.functions.WordStats.word_stats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-layer throughput of the `graft.functions` Column builders the
  * curation queries lean on, each over a cached input column (the
  * `documents` text or the `embeddings` vectors, repeated to REPEAT times
  * the fixture so a job's fixed cost does not dominate). Traced run only.
  */
object FunctionProbes {
  val REPEAT = 20
  val REPS = 3

  def run(r: Run): Unit = {
    val spark = r.spark
    def repeated(table: String): DataFrame =
      spark.read.parquet(s"${r.fixtures}/$table.parquet")
        .crossJoin(spark.range(REPEAT).withColumnRenamed("id", "_rep"))
        .repartition(spark.sparkContext.defaultParallelism)
    val docs = repeated("documents").select("text").cache()
    val shingles = docs.select(word_shingle_phashes(col("text"), 3).as("hs")).cache()
    val emb = repeated("embeddings").select("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 16)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cell"),
        col("embedding").as("c")))).as("cents"))
    val vecs = emb.crossJoin(cents).select("embedding", "cents").cache()
    val seeds = new scala.util.Random(7)
    val a = Seq.fill(64)(seeds.nextInt(Int.MaxValue).toLong + 1)
    val b = Seq.fill(64)(seeds.nextInt(Int.MaxValue).toLong)
    val (nDocs, nShingles, nVecs) = (docs.count(), shingles.count(), vecs.count())
    val probes: Seq[(String, DataFrame, Long, Column)] = Seq(
      ("graft_phash", docs, nDocs, graft_phash(col("text"))),
      ("word_stats", docs, nDocs, word_stats(col("text"))),
      ("gram_phashes", docs, nDocs, gram_phashes(col("text"), 5)),
      ("word_shingle_phashes", docs, nDocs, word_shingle_phashes(col("text"), 3)),
      ("winnow_fps", docs, nDocs, winnow_fps(col("text"), 8, 8)),
      ("simhash_fp", docs, nDocs, simhash_fp(col("text"), 60)),
      ("minhash_sigs", shingles, nShingles, minhash_sigs(col("hs"), a, b, (1L << 61) - 1)),
      ("nearest_centroid", vecs, nVecs, nearest_centroid(col("embedding"), col("cents"))))
    probes.foreach { case (name, input, rows, fn) =>
      val times = (1 to REPS).map(_ => r.timed(
        input.select(fn.as("out")).write.format("noop").mode("overwrite").save())._2)
      r.rec("probe", "name" -> s"functions.$name", "s" -> times.sorted.apply(REPS / 2),
        "rows" -> rows)
    }
    Seq(docs, shingles, vecs).foreach(_.unpersist())
  }
}
