package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** The metric catalog, read from `BENCHMARK.json`: every name the benchmark
  * prints, with its unit and better direction, in the file's order. The
  * per-ingestor and per-level metrics the workloads compute are the ones
  * the catalog lists. */
final case class Catalog(endToEnd: Seq[Catalog.Metric], perLayer: Seq[Catalog.Metric]) {
  /** Ingestors with an `extract.<Ingestor>.self_s` metric. */
  def ingestors: Seq[String] = perLayer.map(_.name).collect { case Catalog.SelfTime(i) => i }

  /** Extraction levels with a `pipeline.level<d>.docs` metric. */
  def levels: Int = perLayer.count(m => Catalog.LevelDocs.matches(m.name))
}

object Catalog {
  final case class Metric(name: String, unit: String, better: String)

  private val SelfTime = """extract\.(\w+)\.self_s""".r
  private val LevelDocs = """pipeline\.level\d+\.docs""".r

  def load(f: java.io.File): Catalog = {
    val node = new ObjectMapper().readTree(f)
    def list(key: String) = node.get(key).elements().asScala.map { m =>
      Metric(m.get("name").asText(), m.get("unit").asText(), m.get("better").asText())
    }.toSeq
    Catalog(list("end_to_end"), list("per_layer"))
  }
}
