package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.queries.{Curation, DmQueries, LlmEmbed, LlmText, MlQueries, PipelineQueries, Q, QuirkQueries, Relational, WarehouseQueries}

/** The `query` workload: the read path, a closed loop over a fixed pool
  * of registered queries in a seeded order.
  *
  * The pool holds two families. `bi` draws on the star-schema and
  * warehouse queries (`Relational`, `WarehouseQueries`, `DmQueries`,
  * `PipelineQueries`, `QuirkQueries`): mostly sub-second, so planning,
  * scheduling and empty tasks dominate. `cur` draws on the curation and
  * ML queries (`LlmEmbed`, `LlmText`, `Curation`, `MlQueries`), which
  * spend their time in the similarity, dedup, decimal-fold and
  * top-k kernels. Queries that read a `BuildCache` warehouse build are
  * left out: their first touch is a full warehouse build, which the
  * `etl` workload measures.
  *
  * Set-up runs every pool query once, writing its result for the DuckDB
  * oracle check (this is also the warm-up). The timed loop runs whole
  * passes over the pool, each pass in a fresh seeded order, at least
  * [[MinPasses]] and until the run's seconds are used up; each query is
  * built (`fn(spark, dir)`, which includes any eager work) and executed
  * through a `noop` write.
  */
object Queries {
  /** Two timings per query and run: one pass alone spread the run's
    * median by 0.16 over ten seeds.
    */
  val MinPasses = 2

  val Bi: Seq[(String, Seq[Q], Seq[String])] = Seq(
    ("Relational", Relational.queries, Seq("q1_pricing_summary", "j7_star_year_region")),
    ("WarehouseQueries", WarehouseQueries.queries, Seq("cdc_apply")),
    ("DmQueries", DmQueries.queries, Seq("m13_dm_fact_rekey")),
    ("PipelineQueries", PipelineQueries.queries, Seq("c7_delta_agg")),
    ("QuirkQueries", QuirkQueries.queries, Seq("q8_fact_null_fk_reinsert")))

  val Cur: Seq[(String, Seq[Q], Seq[String])] = Seq(
    ("LlmEmbed", LlmEmbed.queries, Seq("embed_brute_topk", "embed_pca_power")),
    ("LlmText", LlmText.queries, Seq("dedup_jaccard_pairs")),
    ("Curation", Curation.queries, Seq("sketch_kmv_overlap")),
    ("MlQueries", MlQueries.queries, Seq("ml_auc", "text_bigram_lm")))

  /** (family, query) for the whole pool, each looked up in the source
    * file it is drawn from.
    */
  def pool: Seq[(String, Q)] = {
    def pick(fam: String, groups: Seq[(String, Seq[Q], Seq[String])]) =
      groups.flatMap { case (file, qs, names) =>
        val byName = qs.map(q => q.name -> q).toMap
        names.map(n => fam -> byName.getOrElse(n, sys.error(s"$n is not registered in $file")))
      }
    pick("bi", Bi) ++ pick("cur", Cur)
  }

  def run(spark: SparkSession, a: Main.Args, t: Tracer, res: Result): Unit = {
    val queries = pool
    val compile0 = Main.compileS
    // set-up: one execution per query, written for the oracle check
    val verified = queries.flatMap { case (_, q) =>
      try {
        val t0 = System.nanoTime()
        Checks.dump(q.fn(spark, a.data), s"${a.work}/verify/${q.name}")
        System.err.println(f"[perfbench] set-up ${q.name} ${(System.nanoTime() - t0) / 1e9}%.2f s")
        if (q.oracle.isDefined) Some(q.name) else None
      } catch {
        case e: Throwable =>
          res.fail(s"verify_${q.name}", s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }
    res.verify = verified
    res.info("compile_setup_s") = Main.compileS - compile0

    val compile1 = Main.compileS
    val rng = new Random(a.seed)
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Q, Span)]
    res.markFirstOp()
    val loopStart = t.nowMs
    var passes = 0
    while (passes < MinPasses || (t.nowMs - loopStart) / 1000 < a.seconds) {
      passes += 1
      rng.shuffle(queries).foreach { case (fam, q) =>
        res.attempted += 1
        try {
          val (_, op) = t.span(None, "op", q.name) { op =>
            val (df, _) = t.span(Some(op), "layer", "build")(_ => q.fn(spark, a.data))
            t.span(Some(op), "layer", "exec") { _ =>
              df.write.format("noop").mode("overwrite").save()
            }
          }
          res.op(q.name, op)
          done += ((fam, q, op))
        } catch {
          case e: Throwable =>
            res.failedOps += 1
            res.notes(q.name) = s"${e.getClass.getName}: ${e.getMessage}"
        }
      }
    }
    res.loopS = (t.nowMs - loopStart) / 1000
    res.info("compile_loop_s") = Main.compileS - compile1
    res.heapCheckpoint()
    if (a.trace) Layers.queries(t, res, done.toSeq, a.cpus)
  }
}
