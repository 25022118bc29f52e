package perfbench

import org.apache.spark.sql.functions._

/** Tests of the benchmark's own code: median and percentile, interval
  * arithmetic, span self time, digest order-independence, the `curate`
  * input generator and the metric catalog. Run with
  * `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap

    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 99) == 99.0 && Stats.percentile(xs, 50) == 50.0 &&
      Stats.percentile(Seq(7.0), 99) == 7.0
    }
    check("union length counts overlaps once") {
      Stats.unionLength(Seq((10L, 30L), (20L, 40L), (50L, 60L), (55L, 58L), (70L, 70L))) == 40L &&
      Stats.unionLength(Nil) == 0L
    }
    check("spark.driver_s is wall minus the union of job intervals") {
      // window [0, 100): jobs cover [0, 5) + [10, 40) + [90, 100) = 45
      Stats.driverOnly(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L), (-5L, 5L))) == 55L &&
      Stats.driverOnly(0L, 100L, Nil) == 100L
    }
    check("span self time with overlapping children") {
      import Tracer.Span
      val spans = Seq(
        Span(0, -1, "pass", 0, 100),
        Span(1, 0, "a", 10, 50),
        Span(2, 0, "b", 30, 70), // overlaps a: [10, 70) covered once
        Span(3, 1, "c", 20, 25),
        Span(4, 0, "d", 90, 120)) // runs past its parent: clipped to [90, 100)
      val self = Tracer.selfTimes(spans)
      self(0) == 100 - 60 - 10 && self(1) == 35 && self(2) == 40 && self(3) == 5 &&
      self(4) == 30 && near(Tracer.selfSecondsByName(spans)("a"), 35e-9)
    }

    val spark = Main.session(2, new java.io.File(opts("work")))
    try {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i, s"text $i", Map("k" -> Seq(s"v$i"), "z" -> Seq("a", "b"))))
      val df = rows.toDF("id", "text", "props").repartition(3)
      val cols = Seq(col("id"), col("text"), array_sort(map_entries(col("props"))))
      def digest(d: org.apache.spark.sql.DataFrame) = Digest.of(Seq(("t", d, cols)))("t")
      val base = digest(df)
      check("digest ignores row order and partitioning") {
        base == digest(df.orderBy(rand(7)).coalesce(1)) &&
        base == digest(rows.reverse.toDF("id", "text", "props").repartition(5))
      }
      check("digest ignores map insertion order") {
        val flipped = rows.map { case (i, t, m) => (i, t, scala.collection.immutable.ListMap(m.toSeq.reverse: _*).toMap) }
        base == digest(flipped.toDF("id", "text", "props"))
      }
      check("digest sees a dropped, duplicated or edited row") {
        val dropped = digest(df.filter(col("id") =!= 5))
        val duplicated = digest(df.union(df.filter(col("id") === 5)))
        val edited = digest(df.withColumn("text", when(col("id") === 5, lit("x")).otherwise(col("text"))))
        Seq(dropped, duplicated, edited).forall(_ != base) && Digest.rows(base) == 200L &&
        Digest.rows(duplicated) == 201L
      }
    } finally spark.stop()

    check("curate input: deterministic, fixture-shaped, with near duplicates and a shared footer") {
      val a = (0L until 5000L).map(Inputs.row(5L, 5000L, _))
      val words = a.map(_.text.split(' ').count(_ != "dup"))
      val copies = a.count(_.text.endsWith(" dup")).toDouble / a.size
      val en = a.count(_.lang == "en").toDouble / a.size
      a == (0L until 5000L).map(Inputs.row(5L, 5000L, _)) &&
      words.min >= 10 && words.max <= 99 && copies > 0.04 && copies < 0.06 &&
      en > 0.38 && en < 0.44 && a.map(_.source).distinct.size == 20 &&
      a.forall(r => r.spans.map(_.text) == Seq(r.text, Inputs.Footer))
    }

    check("catalog derives ingestors and levels from BENCHMARK.json") {
      val c = Catalog.load(new java.io.File(opts("benchmark")))
      c.ingestors.contains("ZipIngestor") && c.levels == 3 &&
      c.endToEnd.exists(m => m.name == "setup_s" && m.unit == "s" && m.better == "lower")
    }

    check("committed digests name known workloads") {
      Committed.load(new java.io.File(opts("digests"))).keySet.subsetOf(Workload.names.toSet)
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
