package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $name threw $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += name
  }

  def main(opt: Map[String, String]): Unit = {
    val work = new File(opt.getOrElse("work", sys.error("--work is required")))

    check("generator: same seed gives the same graph") {
      Gen.graph(7, 500, 2000, 20) == Gen.graph(7, 500, 2000, 20)
    }
    check("generator: another seed gives another graph") {
      Gen.graph(7, 500, 2000, 20) != Gen.graph(8, 500, 2000, 20)
    }
    check("generator: same seed gives the same corpus") {
      Gen.corpus(7, 300, 0.1, 0.1, 0.05) == Gen.corpus(7, 300, 0.1, 0.1, 0.05)
    }
    check("generator: ids above 2^63 and non-numeric ids occur") {
      val ids = Gen.graph(3, 500, 2000, 20).docs.flatMap(d => Seq(d.from, d.to)).toSet
      ids.exists(i => i.forall(_.isDigit) && BigInt(i) > BigInt(Long.MaxValue)) && ids.exists(!_.forall(_.isDigit))
    }
    check("generator: planted duplicates and low-quality docs at the stated rates") {
      val c = Gen.corpus(11, 2000, 0.1, 0.1, 0.05)
      val copies = c.exactIds.size + c.nearIds.size
      val text = c.docs.map(d => d.id -> d.text).toMap
      copies == 400 && c.exactIds.size > 150 && c.nearIds.size > 150 &&
        c.exactIds.forall(id => c.docs.count(_.text == text(id)) > 1) &&
        c.lowQuality.size > 50 && c.lowQuality.forall(id => !Ref.qualityKeep(text(id)))
    }

    check("tail rule: highest percentile with at least ten samples beyond it") {
      Stats.tailPercentile(19).isEmpty &&
        Stats.tailPercentile(20).contains(0.5) &&
        Stats.tailPercentile(99).contains(0.5) &&
        Stats.tailPercentile(100).contains(0.9) &&
        Stats.tailPercentile(999).contains(0.9) &&
        Stats.tailPercentile(1000).contains(0.99) &&
        Stats.tailPercentile(10000).contains(0.999) &&
        Stats.tail((1 to 100).map(_.toDouble)) == ("p90", 90.0) &&
        Stats.beyond(100, 0.9) == 10 &&
        Stats.tail(Seq(3.0, 1.0, 2.0)) == ("max", 3.0)
    }

    check("span self time = duration minus the covered child intervals") {
      Tracer.selfNs(0, 100, Nil) == 100 &&
        Tracer.selfNs(0, 100, Seq((10L, 30L), (20L, 40L))) == 70 &&
        Tracer.selfNs(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L), (-5L, 2L))) == 58 &&
        Tracer.selfNs(0, 100, Seq((0L, 100L), (50L, 60L))) == 0
    }

    check("a thrown Error and a dead client thread count as failed ops") {
      val dir = new File(work, "selftest-faulty")
      val ctx = new Ctx(5, dir, 1, injectFault = false)
      val out = Main.execute(new Faulty(ctx), 2.0, traced = true)
      SparkSession.getActiveSession.foreach(_.stop())
      Workloads.deleteTree(dir)
      val ops = out.samples.filter(_.kind == "op")
      ops.size == 4 && ops.count(!_.ok) == 3
    }

    // Full workloads: once clean, once with one corrupted output.
    Workloads.Names.foreach { name =>
      Seq(false, true).foreach { inject =>
        val dir = new File(work, s"selftest-$name-$inject")
        val ctx = new Ctx(5, dir, Runtime.getRuntime.availableProcessors, inject)
        val w = Workloads.create(name, ctx)
        val out = try Main.execute(w, 2.0, traced = inject) finally w.close()
        val failed = out.samples.count(!_.ok)
        val label = if (inject) "an injected wrong output is counted as a failed op" else "all outputs check"
        check(s"$name: $label") {
          if (inject) failed == 1 else failed == 0 && out.samples.nonEmpty
        }
        if (inject) check(s"$name: the traced run records spans and Spark counters") {
          val tr = out.tracer.get
          val reqs = out.samples.filter(_.req != 0L)
          reqs.nonEmpty && reqs.forall { s =>
            val f = tr.requestFigures(s.req, ctx.cores)
            f.keys.exists(_.startsWith("self:")) && (s.kind != "op" || f.getOrElse("exec.tasks", 0.0) > 0)
          }
        }
        SparkSession.getActiveSession.foreach(_.stop())
        Workloads.deleteTree(dir)
      }
    }

    println(if (failures.isEmpty) "ALL PASS" else s"${failures.size} FAILED: ${failures.mkString("; ")}")
    System.exit(if (failures.isEmpty) 0 else 1)
  }

  /** Four planned operations: the first throws an Error, the second
    * succeeds, and the third kills its client thread (`tracedOp` runs
    * outside the operation's handler), so the fourth never runs.
    */
  private final class Faulty(ctx: Ctx) extends Workload(ctx) {
    val opsPerSecond = 1.0
    def generate(spark: SparkSession): Unit = ()
    def setup(spark: SparkSession): Unit = ()
    def op(client: Int, index: Long, traced: Boolean): Seq[Sample] =
      if (index == 0) throw new StackOverflowError("planted") else Seq(Sample("op", 1.0, ok = true))
    override def tracedOp(client: Int, index: Long): Boolean =
      if (index == 2) throw new LinkageError("planted") else false
    def workPerSec(ops: Seq[Sample], wallS: Double): Double = 0.0
    def layers(s: Sample, fig: Map[String, Double]): Map[String, Double] = Map.empty
  }
}
