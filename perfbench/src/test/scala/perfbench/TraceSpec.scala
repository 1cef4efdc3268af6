package perfbench

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The tracer's contract on the `etl` workload: every traced job is
  * paired with both its events, and per-layer job and task counts repeat
  * exactly across two warm runs on the same seed.
  */
class TraceSpec extends AnyFunSuite {

  /** A fresh input dir per run: `graft.sources.Tables` caches source
    * plans per dir, and a separate JVM per benchmark run never shares
    * them either.
    */
  private def inputs(root: Path, i: Int): String = {
    val data = root.resolve(s"data$i").toString
    val rc = Seq("python3", "gen.py", "etl", data, "3", "0.001", "2").!
    assert(rc == 0, "input generator failed")
    data
  }

  test("jobs pair with both events; per-layer counts repeat on warm etl runs") {
    val root = Files.createTempDirectory(
      Files.createDirectories(java.nio.file.Paths.get("target")), "tracespec")
    val spark = Main.session(2, root.resolve("spark-local").toString)
    try {
      def run(i: Int): (Map[String, Double], Tracer) = {
        val work = root.resolve(s"work$i").toString
        val data = inputs(root, i)
        val args = Main.Args("etl", 3, 0.001, trace = true, data, work,
          s"$work/result.json", 2, System.currentTimeMillis().toDouble)
        val tracer = new Tracer(spark, traced = true)
        val res = new Result(args, tracer)
        Etl.run(spark, args, tracer, res)
        tracer.close()
        assert(res.checks.values.forall(identity), res.notes.toString)
        (res.layer.toMap, tracer)
      }
      run(0) // cold: codegen and JIT
      val (a, ta) = run(1)
      val (b, tb) = run(2)
      // the same seed gave byte-identical inputs
      val files = Files.walk(root.resolve("data1")).toArray.map(_.asInstanceOf[Path])
        .filter(Files.isRegularFile(_))
      assert(files.nonEmpty)
      files.foreach { f =>
        val g = root.resolve("data2").resolve(root.resolve("data1").relativize(f))
        assert(java.util.Arrays.equals(Files.readAllBytes(f), Files.readAllBytes(g)), s"$f differs")
      }
      for (t <- Seq(ta, tb)) {
        assert(t.droppedJobs.get == 0)
        assert(t.openJobs == 0)
        assert(t.drainTimeouts.get == 0)
        assert(t.pairedJobs == t.startedJobs.get && t.pairedJobs > 0)
      }
      val counts = a.keys.filter(k => k.endsWith(".jobs") || k == "sched.tasks").toSeq.sorted
      assert(counts.exists(_.startsWith("pipeline.full.")))
      assert(a("pipeline.batch.loadDims.jobs") > 0 && a("streaming.applyBatch.jobs") > 0)
      val differ = counts.filter(k => a(k) != b(k)).map(k => s"$k: ${a(k)} vs ${b(k)}")
      assert(differ.isEmpty, differ.mkString("; "))
    } finally {
      spark.stop()
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
