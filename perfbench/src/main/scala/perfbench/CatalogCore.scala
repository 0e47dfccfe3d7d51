package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.operators.OperatorCaches
import graft.queries.{Q, QueryCatalog}

/** A fixed list of catalog entries, about one per major operator module,
  * each run to the noop sink over the committed testdata tables.
  */
object CatalogCore {
  /** Full names in `QueryCatalog.all`; a rename or split makes set-up fail. */
  val Entries: Seq[String] = Seq(
    "q_dedup_exact",            // Dedup: exact-duplicate groups
    "q_link_scores_candidates", // GraphRank: candidate-pair link scores
    "q_knn_cosine",             // Similarity: brute-force top-k, cosine kernel
    "q_ann_lsh",                // Similarity: hyperplane-band ANN kernels
    "q_text_quality",           // TextAnalysis: per-document quality metrics
    "q_hll_crawl_union",        // Sketches: HLL sketch table + merge
    "q_weighted_sample",        // Sampling: weighted sample
    "q_stream_window_agg",      // streaming.EventStreams: windowed counts
    "q_join_broadcast_dims",    // relational: broadcast dimension joins
    "q_window_rank_top3")       // relational: ranking window

  def family(name: String): String = name.stripPrefix("q_").takeWhile(_ != '_')

  /** Look every entry up by full name; fail naming each one that is
    * missing, has no oracle, or is a retained scale counter-example.
    */
  def resolve(): Seq[Q] = {
    val byName = QueryCatalog.all.map(q => q.name -> q).toMap
    val problems = Entries.flatMap { n =>
      byName.get(n) match {
        case None                        => Some(s"$n: not in QueryCatalog.all")
        case Some(q) if q.oracle.isEmpty => Some(s"$n: has no oracle")
        case Some(q) if q.counterExample => Some(s"$n: is a counterExample entry")
        case _                           => None
      }
    }
    require(problems.isEmpty, s"catalog_core entry list is stale: ${problems.mkString("; ")}")
    Entries.map(byName)
  }
}

final class CatalogCore(run: Run) extends Workload {
  import run._
  private val tables = s"$work/tables"
  /** The seed orders the families; the order then holds for every pass. */
  private val order: Seq[Q] = {
    val entries = CatalogCore.resolve()
    val families = entries.map(q => CatalogCore.family(q.name)).distinct
    new scala.util.Random(seed).shuffle(families)
      .flatMap(f => entries.filter(q => CatalogCore.family(q.name) == f))
  }

  /** Stage the read-only tables into the run's directory. */
  def prepare(): Unit = {
    Files.createDirectories(Paths.get(tables))
    Files.list(Paths.get(data)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, Paths.get(tables).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
  }

  def pass(): Unit = order.foreach { q =>
    val ms = run.op(q.name)(Probe.noop(q.fn(spark, tables)))
    sample(s"queries.${q.name}_ms", ms)
    peak("operators.cache_live", OperatorCaches.liveCount.toDouble)
    OperatorCaches.release(spark)
  }

  /** Entry name -> output write error ("" when written). */
  private val written = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** The warm-up pass keeps each entry's output as parquet, for the
    * DuckDB oracle compare the launcher runs over the same tables.
    */
  def warmUp(): Unit = order.foreach { q =>
    val ok = scala.util.Try(q.fn(spark, tables).write.mode("overwrite").parquet(s"$work/oracle_out/${q.name}"))
    written(q.name) = ok.failed.map(_.toString.take(300)).getOrElse("")
    OperatorCaches.release(spark)
  }
  def checks(): Seq[Check] = written.toSeq.map { case (name, err) =>
    Check(s"catalog_core.$name.output", err.isEmpty, err)
  }

  override def extra: Map[String, Any] = Map(
    "tables" -> tables,
    "oracle" -> order.map(q => q.name -> q.oracle.get).toMap,
    "order" -> order.map(_.name))
}
