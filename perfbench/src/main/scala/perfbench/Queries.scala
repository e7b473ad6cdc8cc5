package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

/** The `query-mix` workload: passes over a fixed list of registry
  * queries (`graft.SparkEntry.queries`), one closed-loop client.
  *
  * One untimed warm-up pass in list order, then timed passes, each in an
  * order shuffled by the seed, until the window is spent; the last pass
  * always completes, so every query runs equally often. Each operation is
  * timed from the registry call to the fully materialized result, split
  * into build (the registry call), plan (`executedPlan`) and exec (every
  * row produced and hashed). The hash is order-insensitive and `run.py`
  * compares it to `goldens.json`.
  */
object Queries {
  /** The analyst read path (graft.operators, graft.plans, the snapshot
    * store behind Tables, graft.weather's query surface) and the
    * LLM-data curation path (graft.datapipe over the graft.functions
    * kernels), one or two queries per operator family. */
  val mix = Seq(
    // relational: aggregate, broadcast and multi-way joins, set ops
    "q01_pricing_summary", "q03_join_broadcast", "q08_multiway_join", "q21_except",
    // windows, including the global running-total plan
    "q13_window_rows_frame", "q79_running_total_global",
    // aggregates, JSON scalars, the native as-of join plan
    "q36_percentiles", "q28_scalar_json", "q46_asof_join_native",
    // snapshot store: time travel and data skipping
    "q102_time_travel", "q105_snapshot_skipping",
    // the weather pipeline's upsert as a query
    "w05_upsert_antijoin",
    // curation: dedup (exact, MinHash, SimHash, winnowing), similarity
    // search, k-means, TF-IDF and the end-to-end curation pipeline
    "d01_exact_dedup", "d02_minhash_lsh", "d03_simhash", "d09_winnow_neardup",
    "s01_topk_cosine", "s05_kmeans_iter", "t08_tfidf", "t20_curation_pipeline")

  val MIN_PASSES = 2

  def run(r: Run): Unit = {
    val (_, warmS) = r.timed(mix.foreach(op(r, _, pass = 0, traced = false)))
    r.rec("warmup", "s" -> warmS)
    val rnd = new scala.util.Random(r.seed)
    val windowStart = System.nanoTime()
    var pass = 0
    // at least MIN_PASSES, so that a run slowed by outside load still
    // yields the same sample count. A traced run traces every other query
    // of the list, alternating between passes, so over an even number of
    // passes each query runs traced and untraced equally often (the
    // difference is the tracing overhead)
    while ((System.nanoTime() - windowStart) / 1e9 < r.seconds ||
           pass < MIN_PASSES || (r.trace && pass % 2 == 1)) {
      pass += 1
      rnd.shuffle(mix).foreach(q => op(r, q, pass,
        traced = r.trace && (mix.indexOf(q) + pass) % 2 == 0))
    }
    if (r.trace) FunctionProbes.run(r)
  }

  /** One pass over every benchmark query, for regenerating the goldens. */
  def hashes(r: Run): Unit = mix.foreach(op(r, _, 0, traced = false))

  private def op(r: Run, name: String, pass: Int, traced: Boolean): Unit = {
    val sc = r.spark.sparkContext
    val fn = graft.SparkEntry.queries(name)
    // the registry module that defines the query: its lambda's outer class
    val owner = fn.getClass.getName.takeWhile(_ != '$')
    val pkg = owner.substring(0, owner.lastIndexOf('.'))
    val file = owner.substring(owner.lastIndexOf('.') + 1) + ".scala"
    val start = System.currentTimeMillis()
    r.tracer.enabled = traced
    val t0 = System.nanoTime()
    try {
      val df = fn(r.spark, r.fixtures)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      // jobs of the materialization run under the query's own call site,
      // so the traced run attributes them to the module that defines it
      sc.setCallSite(s"$name at $file")
      val (hash, rows) = try hashRows(df) finally sc.clearCallSite()
      val t3 = System.nanoTime()
      r.rec("op", "kind" -> "query", "name" -> name, "module" -> pkg,
        "start" -> start, "s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
        "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
        "hash" -> hash, "rows" -> rows, "ok" -> true, "pass" -> pass,
        "traced" -> traced)
    } catch {
      case e: Throwable =>
        r.rec("op", "kind" -> "query", "name" -> name, "module" -> pkg,
          "start" -> start, "s" -> (System.nanoTime() - t0) / 1e9, "ok" -> false,
          "pass" -> pass, "traced" -> traced, "error" -> String.valueOf(e.getMessage))
    } finally {
      r.tracer.enabled = false
      r.spark.catalog.clearCache()
    }
  }

  /** Materializes every row of `df` and returns an order-insensitive hash
    * (sum of per-row xxhash64 over all columns, with the row count). */
  def hashRows(df: DataFrame): (String, Long) = {
    val qe = df.queryExecution
    val refs = qe.executedPlan.output.zipWithIndex
      .map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench materialize")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(Seq(XxHash64(refs, 42L)))
        var sum = 0L
        var n = 0L
        while (it.hasNext) { sum += proj(it.next()).getLong(0); n += 1 }
        Iterator.single((sum, n))
      }.collect()
    }
    (f"${parts.map(_._1).sum}%016x", parts.map(_._2).sum)
  }
}
