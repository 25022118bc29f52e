package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: start a session, build the workload's inputs from the
  * seed, warm up, run closed-loop passes for the given seconds, check every
  * pass's outputs, and write one result object.
  *
  * With `--trace 0` the result holds the end-to-end metrics. With
  * `--trace 1` the run first repeats untraced passes for half the time,
  * then traced passes (spans at each layer boundary, every stage
  * materialized), then the single-threaded sample, and the result holds
  * the per-layer metrics; spans go to `--traces`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, result: File, digests: File, traces: File,
                        catalog: Catalog)

  /** Untimed passes before timing starts: one cold pass takes the largest
    * JIT and lazy set-up cost. Passes keep getting faster after it (each
    * run prints its walls); more warm-up did not fit the time a full
    * schedule of runs may take. */
  val WarmupPasses = 1
  val DefaultSeed = 1L

  /** One measured pass: wall and process CPU seconds, host steal share,
    * storage peak, what the workload returned, Spark counters, top-level
    * stage walls (traced passes) and the pass's jobs. */
  final case class PassRec(wall: Double, cpuS: Double, steal: Double, peakMb: Double,
                           out: PassOut, spark: Map[String, Double],
                           stages: Map[String, Double], jobs: Seq[Listener.Job])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    System.exit(try run(o) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    })
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("result")), new File(need("digests")),
      new File(need("traces")), Catalog.load(new File(need("benchmark"))))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 3).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** (steal ticks, all ticks) from the first line of /proc/stat. */
  private def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
    (f(7), f.sum)
  } catch { case _: Exception => (0L, 0L) }

  def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cores, o.work)
    try measure(o, spark, cores, (System.nanoTime() - t0) / 1e9)
    finally spark.stop()
  }

  private def measure(o: Opts, spark: SparkSession, cores: Int, sessionS: Double): Int = {
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    if (o.trace) spark.listenerManager.register(listener)
    val tracer = new Tracer(o.trace)
    val ctx = new Ctx(spark, o.seed, cores, o.work, tracer, o.catalog)
    val wl = Workload(o.workload, ctx)
    println(f"perfbench: workload=${wl.name} seed=${o.seed} seconds=${o.seconds} " +
      f"trace=${if (o.trace) 1 else 0} cores=$cores master=local[$cores] " +
      f"shuffle.partitions=${cores * 3} heap=${Runtime.getRuntime.maxMemory / 1073741824.0}%.2fGiB")

    // ---- set-up: the inputs, built once, then the warm-up
    val t = System.nanoTime()
    ctx.group("setup") { wl.prepare() }
    val prepareS = (System.nanoTime() - t) / 1e9
    val own = sc.getPersistentRDDs.keySet.toSet
    listener.exclude(own)

    var expected: Map[String, String] = null
    var failed = 0
    var attempted = 0
    val problems = mutable.ArrayBuffer.empty[String]

    def onePass(traced: Boolean): Option[PassRec] = {
      awaitReleased(sc, listener)
      listener.mark()
      val (st0, all0) = cpuTicks()
      val cpu0 = processCpuS
      val gc0 = gcS
      val ms0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val stagesBefore = tracer.all.length
      val out = try Right(tracer.span("pass") { wl.pass(traced) })
        catch { case e: Exception => Left(e) }
      val n1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      val cpu1 = processCpuS
      val gc1 = gcS
      val (st1, all1) = cpuTicks()
      out match {
        case Left(e) =>
          e.printStackTrace()
          problems += s"pass raised ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
        case Right(p) =>
          try p.release() catch { case e: Exception => problems += s"release raised $e" }
          Bus.drain(sc)
          val left = sc.getPersistentRDDs.filter { case (id, _) => !own.contains(id) }
          left.values.foreach(_.unpersist(true))
          if (expected == null) expected = p.digests
          else if (p.digests != expected)
            problems += s"pass digests ${p.digests} differ from the first pass's $expected"
          val jobs = listener.jobsSinceMark
          val passSpan = tracer.all.drop(stagesBefore)
          val passId = passSpan.headOption.map(_.id).getOrElse(-1)
          val stages = passSpan.filter(_.parent == passId).groupBy(_.name)
            .map { case (n, ss) => n -> ss.map(_.duration).sum / 1e9 }
          val sparkM = Map(
            "spark.jobs" -> jobs.size.toDouble,
            "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
            "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
            "spark.gc_s" -> (gc1 - gc0),
            "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
            "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / 1e6,
            "spark.spill_mb" -> jobs.map(_.spill).sum / 1e6,
            "spark.driver_s" -> Stats.driverOnly(ms0, ms1, jobs.map(_.interval)) / 1e3,
            "spark.plan_chars" -> listener.planCharsSinceMark.toDouble,
            "spark.task_skew" -> listener.taskSkew(cores, 500L),
            "spark.pins_left" -> left.size.toDouble)
          Some(PassRec((n1 - n0) / 1e9, cpu1 - cpu0,
            if (all1 > all0) (st1 - st0).toDouble / (all1 - all0) else 0.0,
            listener.storagePeakSinceMark / 1e6, p, sparkM, stages, jobs))
      }
    }

    def counted(traced: Boolean): Option[PassRec] = {
      attempted += 1
      val problemsBefore = problems.length
      val r = onePass(traced)
      if (r.isEmpty || problems.length > problemsBefore) failed += 1
      r
    }

    val warm = Iterator.fill(WarmupPasses)(onePass(traced = false))
      .takeWhile(_.isDefined).map(_.get.wall).toVector
    val setupS = sessionS + prepareS + warm.sum
    if (warm.length < WarmupPasses) return report(o, problems.toSeq, 1, 1, Map.empty)

    // ---- measurement
    val untraced = mutable.ArrayBuffer.empty[PassRec]
    val traced = mutable.ArrayBuffer.empty[PassRec]
    val budget = if (o.trace) o.seconds / 2.0 else o.seconds.toDouble
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while ((untraced.isEmpty || elapsed < budget) && failed == 0) untraced ++= counted(traced = false)
    if (o.trace) {
      val start2 = System.nanoTime()
      while ((traced.isEmpty || (System.nanoTime() - start2) / 1e9 < o.seconds - budget) && failed == 0)
        traced ++= counted(traced = true)
    }

    // ---- checks beyond pass-to-pass agreement; every pass produced the
    // outputs checked here, so a mismatch fails them all
    val problemsBefore = problems.length
    if (expected != null) {
      val ref = wl.reference()
      for ((k, v) <- ref if expected.get(k) != Some(v))
        problems += s"$k digest ${expected.get(k)} differs from the in-memory pipeline's $v"
      if (o.seed == DefaultSeed) {
        val committed = Committed.load(o.digests).getOrElse(wl.name, Map.empty)
        for ((k, v) <- committed if expected.get(k) != Some(v))
          problems += s"$k digest ${expected.get(k)} differs from the committed $v"
        if (committed.isEmpty) println(s"perfbench: no committed digests for ${wl.name}")
      }
      println(s"perfbench: digests ${expected.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    }
    if (problems.length > problemsBefore) failed = attempted
    if (untraced.isEmpty || (o.trace && traced.isEmpty))
      return report(o, problems.toSeq, attempted, math.max(failed, 1), Map.empty)

    val med = (f: PassRec => Double) => Stats.median(untraced.map(f).toSeq)
    val docsPerS = med(r => r.out.docs / r.wall)
    val docs = untraced.head.out.docs
    println(f"perfbench: ${untraced.length} timed passes of $docs docs; walls " +
      untraced.map(r => f"${r.wall}%.3f").mkString(" ") + " s; warm-up walls " +
      warm.map(w => f"$w%.3f").mkString(" ") + f" s; input build $prepareS%.3f s; " +
      f"session $sessionS%.3f s; " +
      f"host steal share ${med(_.steal)}%.4f; pins left per pass " +
      untraced.map(_.spark("spark.pins_left").toInt).mkString(" "))
    val metrics: Map[String, (Double, String)] =
      if (!o.trace) Map(
        "docs_per_s" -> docsPerS,
        "cpu_ms_per_doc" -> med(r => r.cpuS * 1e3 / r.out.docs),
        "peak_storage_mb" -> med(_.peakMb),
        "doc_ok_share" -> med(r => r.out.okDocs.toDouble / r.out.docs),
        "setup_s" -> setupS).map { case (k, v) => k -> (v, unitOf(o.catalog.endToEnd, k)) }
      else {
        val layer = perLayer(wl, ctx, untraced.toSeq, traced.toSeq, warm.toSeq, docsPerS, cores)
        writeTrace(o, wl.name, tracer, traced.last.jobs, layer)
        for (k <- layer.keySet -- o.catalog.perLayer.map(_.name))
          System.err.println(s"perfbench: $k is not in the catalog and is not reported")
        o.catalog.perLayer.map(m => m.name -> (layer.getOrElse(m.name, 0.0), m.unit)).toMap
      }
    val order = (if (o.trace) o.catalog.perLayer else o.catalog.endToEnd).map(_.name)
    for (k <- order) println(f"perfbench: $k%-36s ${metrics(k)._1}%.6g ${metrics(k)._2}")
    report(o, problems.toSeq, attempted, failed, metrics)
  }

  private def unitOf(ms: Seq[Catalog.Metric], name: String): String =
    ms.find(_.name == name).get.unit

  /** Wait until the previous pass's released blocks have left the block
    * manager, so a pass's storage peak counts only its own blocks. */
  private def awaitReleased(sc: org.apache.spark.SparkContext, l: Listener): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    Bus.drain(sc)
    while (l.storageNow > 0 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      Bus.drain(sc)
    }
  }

  private def perLayer(wl: Workload, ctx: Ctx, untraced: Seq[PassRec], traced: Seq[PassRec],
                       warm: Seq[Double], docsPerS: Double, cores: Int): Map[String, Double] = {
    def medOf(xs: Seq[Map[String, Double]]): Map[String, Double] =
      xs.flatMap(_.keys).distinct.map(k => k -> Stats.median(xs.flatMap(_.get(k)))).toMap
    val perPass = traced.map { r =>
      r.spark ++ r.out.layer ++ levelWalls(wl, r) ++ Map(
        "host.steal_share" -> r.steal,
        "bench.stage_sum_s" -> r.stages.values.sum,
        "analysis.s" -> r.stages.getOrElse("analysis", 0.0)) ++
        Seq("dedup", "strip", "curate", "pack").flatMap { s =>
          val g = r.jobs.filter(_.group == s"ops.$s")
          Seq(s"ops.$s.s" -> r.stages.getOrElse(s"ops.$s", 0.0),
            s"ops.$s.shuffle_mb" -> g.map(_.shuffleWrite).sum / 1e6)
        }
    }
    val untracedWall = Stats.median(untraced.map(_.wall))
    val tracedWall = Stats.median(traced.map(_.wall))
    val docs = untraced.head.out.docs.toDouble
    val sample = wl.sampleLayer()
    val single = sample.getOrElse("pipeline.single_thread_docs_per_s", 0.0)
    val levels = medOf(perPass).getOrElse("pipeline.levels", 0.0)
    medOf(perPass) ++ ctx.group("trace")(wl.untimedLayer()) ++ sample ++ Map(
      "pipeline.parallel_efficiency" -> (if (single > 0) docsPerS / (cores * single) else 0.0),
      "corpus.docs" -> docs,
      "corpus.max_depth" -> math.max(0.0, levels - 1),
      "bench.warmup_first_ratio" -> warm.head / untracedWall,
      "bench.untraced_docs_per_s" -> docsPerS,
      "bench.traced_docs_per_s" -> docs / tracedWall,
      "bench.trace_overhead_share" -> (tracedWall / untracedWall - 1.0))
  }

  /** Per-level wall of the extraction loop from the listener's jobs in the
    * `pipeline` group: `Pipeline.run` runs one job per level; the durable
    * loop opens each level with a count of its input. */
  private def levelWalls(wl: Workload, r: PassRec): Map[String, Double] = {
    val levels = r.out.layer.getOrElse("pipeline.levels", 0.0).toInt
    if (levels == 0) return Map.empty
    val jobs = r.jobs.filter(_.group == "pipeline").sortBy(_.start)
    val (pipeStart, pipeEnd) = (jobs.head.start, jobs.map(_.interval._2).max)
    val bounds: Seq[Long] =
      if (wl.name == "ingest") {
        require(jobs.length == levels,
          s"Pipeline.run ran ${jobs.length} jobs for $levels levels")
        pipeStart +: jobs.map(_.interval._2)
      } else {
        val opens = jobs.filter(_.callSite.startsWith("count at Pipeline.scala"))
        if (opens.isEmpty) return Map.empty
        require(opens.length == levels,
          s"runDurable opened ${opens.length} levels, meta shows $levels")
        opens.map(_.start) :+ pipeEnd
      }
    val walls = bounds.sliding(2).map { case Seq(a, b) => (b - a) / 1e3 }.toSeq
    walls.zipWithIndex.map { case (w, d) => s"pipeline.level$d.wall_s" -> w }.toMap ++
      (if (wl.name == "ingest_durable") Map("table.write_s" -> jobs
        .filter(_.callSite.contains("SnapshotTable.scala"))
        .map(j => j.interval._2 - j.interval._1).sum / 1e3) else Map.empty)
  }

  private def writeTrace(o: Opts, name: String, tracer: Tracer, jobs: Seq[Listener.Job],
                         layer: Map[String, Double]): Unit = {
    o.traces.mkdirs()
    val f = new File(o.traces, s"$name-seed${o.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      Tracer.toJsonLines(tracer.all).foreach(w.println)
      jobs.foreach(j => w.println(Json.obj(Seq("job" -> j.id.toString,
        "group" -> Json.str(j.group), "call_site" -> Json.str(j.callSite),
        "start_ms" -> j.start.toString, "end_ms" -> j.interval._2.toString,
        "tasks" -> j.tasks.toString))))
      w.println(Json.obj(Seq("metrics" -> Json.obj(
        layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
    } finally w.close()
    println(s"perfbench: spans and per-layer metrics written to ${o.traces.getName}/${f.getName}")
  }

  private def report(o: Opts, problems: Seq[String], attempted: Int, failed: Int,
                     metrics: Map[String, (Double, String)]): Int = {
    problems.foreach(p => System.err.println(s"perfbench: CHECK FAILED: $p"))
    val correct = problems.isEmpty && failed == 0
    if (metrics.nonEmpty) {
      val line = Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        })))
      java.nio.file.Files.write(o.result.toPath, (line + "\n").getBytes("UTF-8"))
    }
    if (correct && metrics.nonEmpty) 0 else 1
  }
}

/** Digests committed for the default seed, in `perfbench/digests.json`:
  * `{"<workload>": {"<output>": "<digest>", ...}, ...}`. */
object Committed {
  def load(f: File): Map[String, Map[String, String]] =
    if (!f.exists()) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      node.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala.map(x => x.getKey -> x.getValue.asText()).toMap
      }.toMap
    }
}
