package perfbench

import graft.core.Span
import graft.corpus.CorpusGen.Rng
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `curate` input: a document table generated from the seed with the
  * measured shape of the repository's `documents` fixture (the sf0.1 table
  * that `QueryLib.documents` reads, 5000 rows):
  *   - text: words drawn uniformly from the fixture's 30-word vocabulary,
  *     10 to 99 fresh words per document, uniformly (fixture deciles 19,
  *     28, 37, 45, 54, 63, 72, 80, 90 words);
  *   - lang: en, zh, es, fr, de at 41/15/15/15/14%;
  *   - source: `src<id mod 20>`, 20 sources of equal size;
  *   - near duplicates: 5% of documents copy a uniformly chosen other
  *     document's text and append the word `dup` (250 of the fixture's
  *     5000); exact duplicates (8 pairs there) arise where two documents
  *     copy the same one.
  * Each document also carries spans for the cross-document strip: its text
  * as one span, then a footer span every document shares, as every site of
  * the composed web pipeline carries the same footer page. The footer is
  * the planted boilerplate; a text span is shared only by exact
  * duplicates, far fewer than the strip's document-frequency minimum. */
object Inputs {
  val Footer = "subscribe to the graft newsletter for updates"
  val NearDupShare = 0.05
  /** Copies of copies are followed this far; past it the text is fresh,
    * which also ends any cycle of copies. */
  private val MaxHops = 8
  private val vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  final case class Row(id: Long, text: String, lang: String, source: String,
                       spans: Seq[Span])

  private def rng(seed: Long, r: Long, stream: Long): Rng =
    new Rng(seed ^ (r * 0x5851f42d4c957f2dL) ^ (stream * 0x9e3779b97f4a7c15L))

  private def text(seed: Long, rows: Long, r: Long, hops: Int): String = {
    val g = rng(seed, r, 1)
    if (rows > 1 && g.nextDouble() < NearDupShare && hops < MaxHops) {
      val other = (r + 1 + Math.floorMod(g.nextLong(), rows - 1)) % rows
      text(seed, rows, other, hops + 1) + " dup"
    } else Seq.fill(10 + g.nextInt(90))(vocab(g.nextInt(vocab.length))).mkString(" ")
  }

  def row(seed: Long, rows: Long, r: Long): Row = {
    val t = text(seed, rows, r, 0)
    var pick = rng(seed, r, 2).nextInt(100)
    val lang = langs.find { case (_, w) => pick -= w; pick < 0 }.map(_._1).getOrElse("en")
    Row(r, t, lang, s"src${r % 20}", Seq(Span("text", t, "", 0), Span("text", Footer, "", 1)))
  }

  def documents(spark: SparkSession, rows: Long, seed: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, rows, 1, partitions).as[Long].map(r => row(seed, rows, r)).toDF()
  }
}
