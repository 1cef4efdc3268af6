package perfbench

import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.IncrementalAgg
import graft.pipeline.Runner
import graft.sources.TableStore
import graft.streaming.ViewMaintain

/** The `etl` workload: the warehouse write path.
  *
  * Set-up runs an uncached full build of the base feed (`base/`, a fresh
  * store, no `BuildCache`), one `Runner` stage at a time, and folds the
  * base fact into a maintained view. The timed loop then loads the
  * generated small batches (`batch_<k>/`) on top, each one `stage` →
  * `loadDims` → `loadFact` → `ViewMaintain.applyBatch`, until the run's
  * seconds are used up. `refreshViews` and `qaReport` run once at the
  * end, then the output checks.
  */
object Etl {
  val View = "mv_year_nation"
  val ViewKeys = Seq("order_year", "nation_sk")
  val ViewSums = Seq("revenue", "quantity")
  val BaseRunDate: Date = Date.valueOf("2024-01-01")
  def runDate(k: Int): Date = Date.valueOf(BaseRunDate.toLocalDate.plusDays(k))

  def batchDirs(data: String): Seq[String] =
    Iterator.from(1).map(k => s"$data/batch_$k")
      .takeWhile(d => new java.io.File(d).isDirectory).toSeq

  def run(spark: SparkSession, a: Main.Args, t: Tracer, res: Result): Unit = {
    val storeDir = s"${a.work}/store"
    val store = new TableStore(spark, storeDir)

    def fold(op: Span, loadId: Int): Unit =
      t.span(Some(op), "layer", "applyBatch") { _ =>
        ViewMaintain.applyBatch(store, View, ViewKeys, ViewSums)(
          store.read("fct_orders").filter(col("load_id") === loadId.toString),
          loadId.toLong)
      }

    // ---- set-up: the uncached full build of the base feed, stage by stage
    val compile0 = Main.compileS
    val base = new Runner(spark, s"${a.data}/base", storeDir)
    val (qa0, full) = t.span(None, "op", "full") { op =>
      val p = Some(op)
      t.span(p, "layer", "stage")(_ => base.stage(1))
      t.span(p, "layer", "loadDims")(_ => base.loadDims(1, BaseRunDate))
      t.span(p, "layer", "loadFact")(_ => base.loadFact(1))
      t.span(p, "layer", "refreshViews")(_ => base.refreshViews())
      t.span(p, "layer", "qaReport")(_ => base.qaReport().collect())._1
    }
    res.info("full_build_s") = full.durMs / 1000
    val (storeBytes, storeFiles) = Main.dirBytes(storeDir)
    res.info("store_bytes") = storeBytes.toDouble
    res.info("store_files") = storeFiles.toDouble
    res.info("input_bytes") = Main.dirBytes(s"${a.data}/base")._1.toDouble
    res.check("full_build_qa", Checks.qaClean(qa0), Checks.qaText(qa0))
    t.span(None, "op", "base_fold")(op => fold(op, 1))
    res.info("compile_setup_s") = Main.compileS - compile0

    // ---- timed loop: small batches on top, closed loop, one client
    val compile1 = Main.compileS
    res.markFirstOp()
    val loopStart = t.nowMs
    val batches = batchDirs(a.data)
    val batchSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var k = 0
    while (k < batches.size && (t.nowMs - loopStart) / 1000 < a.seconds) {
      k += 1
      val loadId = k + 1
      val r = new Runner(spark, batches(k - 1), storeDir)
      res.attempted += 1
      try {
        val (_, op) = t.span(None, "op", s"batch_$k") { op =>
          val p = Some(op)
          t.span(p, "layer", "stage")(_ => r.stage(loadId))
          t.span(p, "layer", "loadDims")(_ => r.loadDims(loadId, runDate(k)))
          t.span(p, "layer", "loadFact")(_ => r.loadFact(loadId))
          fold(op, loadId)
        }
        batchSpans += op
        res.op(s"batch_$k", op)
      } catch {
        case e: Throwable =>
          res.failedOps += 1
          res.notes(s"batch_$k") = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    res.loopS = (t.nowMs - loopStart) / 1000
    res.info("batches_loaded") = k
    res.info("compile_loop_s") = Main.compileS - compile1
    res.heapCheckpoint()

    // ---- end of load: views and QA once, then the output checks
    val (qa, finish) = t.span(None, "op", "finish") { op =>
      t.span(Some(op), "layer", "refreshViews")(_ => base.refreshViews())
      t.span(Some(op), "layer", "qaReport")(_ => base.qaReport().collect())._1
    }
    res.check("qa_after_batches", Checks.qaClean(qa), Checks.qaText(qa))
    Checks.etl(spark, a, store, k, res)
    // the c6 invariant: the incremental yearly_sales_profit against the
    // DuckDB oracle of s5_pipeline_view over the feed actually loaded
    Checks.dump(store.read("yearly_sales_profit")
      .select("yr", "region", "revenue", "discount_amt", "n_items"),
      s"${a.work}/verify/s5_pipeline_view")
    res.verify = Seq("s5_pipeline_view")

    if (a.trace) Layers.etl(t, res, full, batchSpans.toSeq, finish, a.cpus)
  }
}

/** The output checks that run inside the JVM. */
object Checks {
  import org.apache.spark.sql.{DataFrame, Row}

  private val QaZero = Set("scd2_active_violations", "scd2_product_violations",
    "scd2_employee_violations", "fct_na_date_sk")

  def qaClean(rows: Array[Row]): Boolean = {
    val byName = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    QaZero.forall(n => byName.get(n).contains(0L))
  }
  def qaText(rows: Array[Row]): String =
    rows.map(r => s"${r.get(0)}=${r.get(1)}").mkString(" ")

  /** Writes a result for tools/check.py. No coalesce: the plan stays the
    * one the timed `noop` writes run, so the dump is also their warm-up.
    */
  def dump(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def etl(spark: SparkSession, a: Main.Args, store: TableStore,
      loaded: Int, res: Result): Unit = {
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    val dirs = s"${a.data}/base" +: Etl.batchDirs(a.data).take(loaded)
    val lineitems = dirs.map(rows(_, "lineitem")).sum
    val facts = store.read("fct_orders").count()
    res.check("fact_rows_equal_lineitems", facts == lineitems,
      s"fact=$facts lineitem=$lineitems")
    // every batch changes a disjoint set of customers and parts, each row
    // in a tracked attribute: the SCD2 closes one active version per
    // change and (quirk Q5) inserts no replacement
    for ((dim, feed) <- Seq("dim_customer" -> "customer", "dim_product" -> "part")) {
      val initial = rows(dirs.head, feed)
      val changes = dirs.tail.map(rows(_, feed)).sum
      val all = store.read(dim).count()
      val closed = store.read(dim).filter(!col(graft.operators.Scd2.IsActive)).count()
      res.check(s"${dim}_versions", all == initial && closed == changes,
        s"$dim rows=$all closed=$closed, expected rows=$initial closed=$changes")
    }
    val state = store.read(Etl.View).drop("__bucket", "__applied")
    val maintained = IncrementalAgg.present(state, Etl.ViewKeys, Etl.ViewSums)
    val oneShot = IncrementalAgg.present(
      IncrementalAgg.fromBatch(store.read("fct_orders"), Etl.ViewKeys, Etl.ViewSums),
      Etl.ViewKeys, Etl.ViewSums)
    val diff = maintained.exceptAll(oneShot).count() + oneShot.exceptAll(maintained).count()
    res.check("maintained_view_equals_one_shot", diff == 0, s"$diff rows differ")
  }
}
