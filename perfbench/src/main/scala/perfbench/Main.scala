package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The warehouse benchmark's JVM side. `run.py` generates the inputs,
  * starts this program, checks the query outputs against their DuckDB
  * oracles and prints the result line; see perfbench/NOTES.md.
  *
  * Usage: Main --workload etl|query --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --cpus N --t0-ms EPOCH_MS
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, cpus: Int,
      t0Ms: Double)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("cpus").toInt, need("t0-ms").toDouble)
  }

  /** Exactly `graft.Bench`'s session settings (with its default open cost
    * and minimum coalesce size), plus local dirs inside the work dir.
    */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "131072")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM heap occupancy right after a full GC, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def compileS: Double = CodeGenerator.compileTime / 1e9

  def dirBytes(dir: String): (Long, Long) = {
    val f = new File(dir)
    if (!f.exists()) (0L, 0L)
    else {
      val files = Files.walk(f.toPath).filter(p => Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.map(Files.size).sum, files.length.toLong)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cpus, s"${a.work}/spark-local")
    val tracer = new Tracer(spark, a.trace)
    val res = new Result(a, tracer)
    try a.workload match {
      case "etl" => Etl.run(spark, a, tracer, res)
      case "query" => Queries.run(spark, a, tracer, res)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        res.fail("workload", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    // the oracle SQL of every dumped result, in tools/check.py's layout
    val oracles = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(s"${a.work}/verify"))
    Files.writeString(Paths.get(s"${a.work}/verify/oracle_sql.json"),
      res.verify.flatMap(n => oracles.get(n).map(sql => s"${Result.str(n)}: ${Result.str(sql)}"))
        .mkString("{", ",\n", "}"))
    Files.writeString(Paths.get(a.out), res.json)
    spark.stop()
  }
}

object Result {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** What one run measured and checked, written as JSON for `run.py`. */
final class Result(a: Main.Args, val tracer: Tracer) {
  import Result.str
  var firstOpMs: Double = Double.NaN
  var loopS: Double = 0
  var heapPeakMb: Double = 0
  val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def op(name: String, span: Span): Unit = ops += (name -> span.durMs / 1000)
  var attempted = 0
  var failedOps = 0
  val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var verify = Seq.empty[String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = ok
    if (!ok) notes(name) = detail
  }
  def fail(name: String, detail: String): Unit = check(name, ok = false, detail)

  /** Heap after a full GC; traced runs only, to keep the GCs out of the
    * untraced timings.
    */
  def heapCheckpoint(): Unit =
    if (a.trace) heapPeakMb = math.max(heapPeakMb, Main.heapAfterGcMb())

  def markFirstOp(): Unit = if (firstOpMs.isNaN) {
    heapCheckpoint()
    firstOpMs = tracer.nowMs
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def json: String = obj(Seq(
    "workload" -> str(a.workload),
    "seed" -> a.seed.toString,
    "setup_s" -> num((firstOpMs - a.t0Ms) / 1000.0),
    "loop_s" -> num(loopS),
    "ops" -> ops.map { case (n, d) => s"[${str(n)}, ${num(d)}]" }.mkString("[", ", ", "]"),
    "attempted" -> attempted.toString,
    "failed_ops" -> failedOps.toString,
    "heap_peak_mb" -> num(heapPeakMb),
    "checks" -> obj(checks.map { case (k, v) => k -> v.toString }),
    "notes" -> obj(notes.map { case (k, v) => k -> str(v) }),
    "per_layer" -> obj(layer.map { case (k, v) => k -> num(v) }),
    "info" -> obj(info.map { case (k, v) => k -> num(v) }),
    "verify" -> verify.map(str).mkString("[", ", ", "]"),
    "spans" -> (if (a.trace) tracer.spanTable.map { case (s, self) =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "kind" -> str(s.kind), "name" -> str(s.name),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "self_ms" -> num(self)))
    }.mkString("[", ",\n", "]") else "[]")))
}
