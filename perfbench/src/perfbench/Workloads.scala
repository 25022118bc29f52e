package perfbench

import graft.analysis.Analyze
import graft.classify.Classifier
import graft.core.{DocMeta, ExtractionResult, PendingDoc}
import graft.extract.RawDoc
import graft.corpus.CorpusGen
import graft.ops.{Dedup, SpanOps, TextOps}
import graft.pipeline.{Dispatch, Pipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one pass hands back: documents attempted and succeeded, output
  * digests, per-layer numbers (traced passes only) and the release of what
  * the program returned. */
final case class PassOut(docs: Long, okDocs: Long, digests: Map[String, String],
                         layer: Map[String, Double], release: () => Unit)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val work: java.io.File, val tracer: Tracer, val catalog: Catalog) {
  /** Tag the jobs `body` starts, so the listener can attribute them. */
  def group[A](name: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(name, name)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** A span around `body` whose jobs carry the same name as their group. */
  def stage[A](name: String)(body: => A): A = tracer.span(name)(group(name)(body))
}

/** One closed-loop workload: inputs built once from the seed, then passes
  * run back to back over them. */
abstract class Workload(val ctx: Ctx) {
  def name: String

  /** Generate and pin the inputs. */
  def prepare(): Unit

  def pass(traced: Boolean): PassOut

  /** Digests a pass must reproduce besides agreeing with its siblings:
    * for `ingest_durable`, those of the in-memory path on the same input. */
  def reference(): Map[String, String] = Map.empty

  /** `corpus.*` and other layer numbers taken once, outside any pass. */
  def untimedLayer(): Map[String, Double]

  /** The single-threaded classify/extract sample (ingest workloads). */
  def sampleLayer(): Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("ingest", "ingest_durable", "curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx, durable = false)
    case "ingest_durable" => new Ingest(ctx, durable = true)
    case "curate" => new Curate(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

/** `ingest` and `ingest_durable`: the extraction dataflow over the seeded
  * multi-format corpus, through `Pipeline.run` (in-memory levels, then
  * analysis) or `Pipeline.runDurable` (one snapshot commit per level). */
final class Ingest(ctx: Ctx, durable: Boolean) extends Workload(ctx) {
  import Ingest._
  import ctx.spark.implicits._

  val name: String = if (durable) "ingest_durable" else "ingest"
  private val spark = ctx.spark
  private var pending: Dataset[PendingDoc] = _
  private var stats: (Long, Long) = (0L, 0L)
  private var passNo = 0

  def prepare(): Unit = {
    val (docs, blobs) = CorpusGen.corpus(spark, Roots, ctx.seed)
    // pre-split by doc_id at the loop's own partition count, so level 0
    // is one job like every other level
    pending = Pipeline.initialPending(spark, docs, blobs)
      .repartition(ctx.cores * 3, col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    stats = pending.select(count(lit(1)), coalesce(sum(length(col("bytes"))), lit(0L)))
      .as[(Long, Long)].head()
  }

  def pass(traced: Boolean): PassOut = if (durable) durablePass(traced) else memoryPass(traced)

  private def counts(meta: Dataset[DocMeta]): (Long, Long) = {
    val rows = Pipeline.metrics(meta).select("succeeded", "failed").as[(Long, Long)].collect()
    val ok = rows.map(_._1).sum
    (ok + rows.map(_._2).sum, ok)
  }

  private def memoryPass(traced: Boolean): PassOut = {
    val out = ctx.stage("pipeline") { Pipeline.run(spark, pending, initialStats = Some(stats)) }
    val spans = out.spans.toDF()
    val meta = out.meta.toDF()
    // patterns found in span text, aggregated with the addresses extractors
    // already tagged in the metadata row (the generated mix carries its
    // e-mail addresses in headers, not in body text)
    val tags = Analyze.aggregateTags(Analyze.extractPatterns(spans, Some("offset"))
      .unionByName(meta.select(col("doc_id"), lit("emailMentioned").as("prop"),
        explode(col("properties").getItem("emailMentioned")).as("value"), lit(-1L).as("pos"))))
    val (docs, ok) = ctx.stage("metrics") { counts(out.meta) }
    val (digests, layer) =
      if (!traced) (Digest.of(Seq(("spans", spans, Digest.spanCols),
        ("meta", meta, Digest.metaCols), ("tags", tags, Digest.tagCols))), Map.empty[String, Double])
      else {
        val t = ctx.stage("analysis") { Digest.of(Seq(("tags", tags, Digest.tagCols))) }
        val r = ctx.stage("result") { Digest.of(Seq(("spans", spans, Digest.spanCols),
          ("meta", meta, Digest.metaCols))) }
        (t ++ r, levelDocs(meta) + ("analysis.tags" -> Digest.rows(t("tags")).toDouble))
      }
    PassOut(docs, ok, digests, layer, () => out.cleanup())
  }

  /** A distinct plan over the pinned input: `runDurable` persists and then
    * unpersists its level-0 input, which must not release the pin itself. */
  private def unpinnedView: Dataset[PendingDoc] =
    pending.select(pending.columns.map(col).toSeq: _*).as[PendingDoc]

  private def durablePass(traced: Boolean): PassOut = {
    passNo += 1
    val dir = new java.io.File(ctx.work, s"snapshots-$passNo")
    val (spans, meta, _) = ctx.stage("pipeline") {
      Pipeline.runDurable(spark, unpinnedView, dir.getPath)
    }
    val (docs, ok) = ctx.stage("metrics") { counts(meta.as[DocMeta]) }
    val digests = ctx.stage("result") {
      Digest.of(Seq(("spans", spans, Digest.spanCols), ("meta", meta, Digest.metaCols)))
    }
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        val files = Files.walk(dir).filter(_.getName.endsWith(".parquet"))
        levelDocs(meta) ++ Map(
          "table.mb_written" -> files.map(_.length).sum / 1e6,
          "table.files_written" -> files.length.toDouble)
      }
    PassOut(docs, ok, digests, layer, () => Files.delete(dir))
  }

  private def levelDocs(meta: DataFrame): Map[String, Double] = {
    val byDepth = ctx.group("trace") {
      meta.groupBy("depth").count().as[(Int, Long)].collect().toMap
    }
    Map("pipeline.levels" -> byDepth.size.toDouble) ++
      (0 until ctx.catalog.levels).map(d => s"pipeline.level$d.docs" -> byDepth.getOrElse(d, 0L).toDouble)
  }

  override def reference(): Map[String, String] =
    if (!durable) Map.empty
    else ctx.group("reference") {
      val out = Pipeline.run(spark, pending, initialStats = Some(stats))
      try Digest.of(Seq(("spans", out.spans.toDF(), Digest.spanCols),
        ("meta", out.meta.toDF(), Digest.metaCols)))
      finally out.cleanup()
    }

  def untimedLayer(): Map[String, Double] = {
    val distinct = pending.select(sha1(col("bytes"))).distinct().count()
    Map("corpus.mb" -> stats._2 / 1e6,
      "corpus.dup_share" -> (1.0 - distinct.toDouble / math.max(1L, stats._1))) ++
      (if (durable) Map("table.resume_s" -> resumeSeconds()) else Map.empty)
  }

  /** Commit a full run, then time a second `runDurable` over the finished
    * table: it must find every level committed and read the same outputs. */
  private def resumeSeconds(): Double = {
    val dir = new java.io.File(ctx.work, "snapshots-resume")
    def digests() = {
      val (spans, meta, _) = Pipeline.runDurable(spark, unpinnedView, dir.getPath)
      Digest.of(Seq(("spans", spans, Digest.spanCols), ("meta", meta, Digest.metaCols)))
    }
    try {
      val first = digests()
      val t0 = System.nanoTime()
      val again = digests()
      val s = (System.nanoTime() - t0) / 1e9
      require(again == first, s"resumed table reads $again, the committed run $first")
      s
    } finally Files.delete(dir)
  }

  /** Classify and extract a fixed sample of roots and all their
    * descendants on the driver, one document at a time, through the same
    * public calls the pipeline makes per document. */
  override def sampleLayer(): Map[String, Double] = {
    val tr = ctx.tracer
    var docs = 0L
    var unsupported = 0L
    var children = 0L
    def process(fileName: String, mimeHint: String, bytes: Array[Byte]): Unit =
      tr.span("doc") {
        docs += 1
        tr.span("classify") { Classifier.auction(fileName, mimeHint, bytes) } match {
          case Right(a) if Dispatch.registry.contains(a.ingestor) =>
            val r: ExtractionResult = tr.span(s"extract.${a.ingestor}") {
              Dispatch.registry(a.ingestor).extract(RawDoc("", fileName, a.mimeType, bytes))
            }
            children += r.children.size
            r.children.foreach(c => process(c.file_name, c.mime_hint, c.bytes))
          case _ => unsupported += 1
        }
      }
    val roots = (0L until SampleRoots).map(i => CorpusGen.generate(ctx.seed, i))
    val before = tr.all.length
    tr.span("sample") { roots.foreach(g => process(g.file_name, "", g.bytes)) }
    val spans = tr.all.drop(before)
    val wall = spans.head.duration / 1e9
    val us = (p: String => Boolean) => spans.filter(s => p(s.name)).map(_.duration / 1e3)
    val classify = us(_ == "classify")
    val extract = us(_.startsWith("extract."))
    val self = Tracer.selfSecondsByName(spans)
    val ingestors = ctx.catalog.ingestors
    for (n <- self.keys if n.startsWith("extract.") && !ingestors.contains(n.drop(8)))
      System.err.println(s"perfbench: ingestor ${n.drop(8)} has no self-time metric in the catalog")
    Map(
      "classify.us_p50" -> Stats.median(classify),
      "classify.us_p99" -> Stats.percentile(classify, 99),
      "classify.unsupported_share" -> unsupported.toDouble / docs,
      "extract.us_p50" -> Stats.median(extract),
      "extract.us_p99" -> Stats.percentile(extract, 99),
      "extract.children_per_doc" -> children.toDouble / docs,
      "pipeline.single_thread_docs_per_s" -> docs / wall) ++
      ingestors.map(i => s"extract.$i.self_s" -> self.getOrElse(s"extract.$i", 0.0))
  }
}

object Ingest {
  /** Roots per pass (about 5,500 documents over three levels): sized so a
    * full schedule of runs fits its time budget on a 4-core host, which
    * leaves Spark's per-job floor a large share of each pass. */
  val Roots = 4000L
  /** Roots in the single-threaded classify/extract sample. */
  val SampleRoots = 3000L
}

/** `curate`: the corpus-operator chain in the order the composed web
  * pipeline strings it together — near-dup removal, nested boilerplate
  * strip, five-stage curation, sequence packing — over a seeded table
  * shaped like the `documents` fixture, with its near duplicates and a
  * planted cross-document footer span. Curation and packing take the
  * composed web pipeline's arguments. One action at the end of an
  * untraced pass. */
final class Curate(ctx: Ctx) extends Workload(ctx) {
  import Curate._

  val name = "curate"
  private val spark = ctx.spark
  private var tile: DataFrame = _

  def prepare(): Unit = {
    tile = Inputs.documents(spark, Rows, ctx.seed, ctx.cores * 3)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    tile.count()
  }

  def pass(traced: Boolean): PassOut = {
    def boundary(df: DataFrame): Double = if (traced) df.count().toDouble else 0.0
    val (dd, dedupRows) = ctx.stage("ops.dedup") {
      val d = Dedup.dedupCorpus(spark, tile, "id", "text", 0.8)
      (d, boundary(d.filter(col("keep"))))
    }
    val keptIds = dd.filter(col("keep")).select("id")
    val stripped = ctx.stage("ops.strip") {
      val s = SpanOps.stripBoilerplateNested(spark,
        tile.join(keptIds, Seq("id"), "left_semi")
          .select(col("id").cast("string").as("doc_id"), col("spans")), minDocs = 5)
      (s, boundary(s))
    }
    val body = stripped._1.select(col("doc_id").cast("long").as("doc_id"),
      array_join(transform(filter(col("spans"), sp => sp.getField("kind") === "text"),
        sp => sp.getField("text")), " ").as("text"))
    val corpus = body.join(tile.select(col("id").as("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    val bench = corpus.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), slice(split(col("text"), " "), 6, 35).as("t"))
      .select(col("doc_id"), array_join(col("t"), " ").as("text"))
    val kept = ctx.stage("ops.curate") {
      val k = TextOps.curateCorpus(spark, corpus, "doc_id", "text", "lang", "source",
        "n_chars", bench, cap = 10, rates = Map("en" -> 0.5, "de" -> 0.25),
        defaultRate = 0.1, salt = "graft", cutLineage = true)
      (k, boundary(k))
    }
    val segs = ctx.stage("ops.pack") {
      val survivors = corpus.join(kept._1.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      val s = TextOps.packSequences(spark, survivors, "doc_id", "text", 512)
      (s, boundary(s))
    }
    val digests = ctx.stage("result") {
      Digest.of(Seq(("survivors", kept._1.select("id"), Seq(col("id"))),
        ("segments", segs._1, segs._1.columns.map(col).toSeq)))
    }
    val layer =
      if (!traced) Map.empty[String, Double]
      else Map(
        "ops.dedup.rows_out" -> dedupRows,
        "ops.dedup.dropped_share" -> (1.0 - dedupRows / Rows),
        "ops.strip.rows_out" -> stripped._2,
        "ops.curate.rows_out" -> kept._2,
        "ops.pack.rows_out" -> segs._2)
    PassOut(Rows, Rows, digests, layer, () => {
      dd.unpersist(false)
      stripped._1.unpersist(false)
      kept._1.unpersist(false)
      segs._1.unpersist(false)
    })
  }

  def untimedLayer(): Map[String, Double] = {
    val distinct = tile.select("text").distinct().count()
    val mb = tile.select(sum(length(col("text")))).head().getLong(0) / 1e6
    Map("corpus.mb" -> mb, "corpus.dup_share" -> (1.0 - distinct.toDouble / Rows))
  }
}

object Curate {
  /** Input rows per pass; the chain's ~90 jobs dominate a pass at any size
    * that fits the run budget. */
  val Rows = 5000L
}

/** Directory walking for the snapshot tables a durable pass leaves. */
object Files {
  def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
