package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming corpus growth: the continuous version of the every-ingest
  * dedup loop (crawl batches arrive as a stream; only genuinely new
  * documents reach the corpus). New scope beyond the reference (batch-only,
  * SURVEY.md §2i), composing the batch operators it already ships:
  * per-batch exact dedup + digest anti-join against everything kept so far
  * ([[Dedup.incrementalExactByDigest]]), optionally the near-dup stages,
  * + hive-partitioned append.
  *
  * Scale + exactly-once notes:
  *  - The anti-join carries 16-byte md5 digests, never document bodies; at
  *    100 TB the base side is a digest column scan (or a pre-built digest
  *    table — swap the `spark.read.parquet` for it, same plan).
  *  - Retried micro-batches are CONTENT-idempotent without transactional
  *    sinks: a re-run batch re-checks against the base, which already
  *    contains whatever the failed attempt appended, so survivors of the
  *    first attempt are filtered out the second time. (File-level
  *    duplicates can only arise for rows that were mid-flight in a crashed
  *    write, the usual parquet-append caveat; a table format with commit
  *    atomicity slots in here unchanged.)
  *  - Partitioning by `partitionCols` (default: source) keeps each append
  *    scoped to the partitions the batch touches.
  */
object CorpusIngest {

  /** ONE ingest round over frames — the body of every micro-batch, and of
    * the `q_ingest_neardup` catalog entry, which runs it on a synthesized
    * re-crawl batch so the DuckDB oracle checks the round the stream runs.
    * Stages, each a lineage-cut frame the next one reads:
    *  1. within-batch exact dedup ([[Dedup.exact]]: lowest id per text);
    *  2. the digest anti-join against `seenDigests` (a `digest` column of
    *     md5(text), one per kept doc; None = nothing kept yet);
    *  3. with `nearDupThreshold` set, the within-batch near-dup prune:
    *     LSH pairs collapsed to connected components, one min-id
    *     representative per transitive dup group — the policy of batch
    *     [[Dedup.fuzzyDedupClusters]], so a streamed corpus cannot diverge
    *     from a batch-deduped one. Dup groups are near-cliques, so
    *     [[Dedup.connectedComponents]] converges within its min-label
    *     probe rounds on a micro-batch and never runs star contraction;
    *  4. then the probe of `baseSketches` ([[Dedup.minHashSketchTable]]
    *     rows of everything kept so far; None = none yet) by
    *     [[Dedup.incrementalMinHash]], which reads (id, sig) only, never
    *     base text.
    *
    * Every stage's output is an EAGER lineage cut (localCheckpoint): the
    * exact stages feed both the LSH self-join and the anti-join after it,
    * and an uncut plan rides into every downstream consumer — Catalyst
    * re-analysis of the fanned-out tree dominated the catalog entry's wall
    * time (planning, not data: ~18 s at sf0.1 AND sf1). The
    * returned frame is concrete blocks whose plan reads no path, which the
    * stream's appends rely on (see [[incrementalCorpusIngest]]).
    */
  def ingestRound(
      batch: DataFrame,
      seenDigests: Option[DataFrame],
      nearDupThreshold: Option[Double],
      baseSketches: Option[DataFrame],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fresh = Dedup.exact(batch, idCol, textCol)
    val exactNovel = seenDigests
      .fold(fresh)(Dedup.incrementalExactByDigest(fresh, _, textCol))
      .localCheckpoint()
    nearDupThreshold.fold(exactNovel) { t =>
      val losers = Dedup.connectedComponents(
          Dedup.minHashLsh(exactNovel, idCol, textCol, threshold = t))
        .filter(col("id") =!= col("component"))
        .select(col("id").as("__graft_nd"))
      val inBatch = exactNovel.join(losers,
        exactNovel(idCol).cast("long") === col("__graft_nd"), "left_anti")
        .localCheckpoint()
      baseSketches.fold(inBatch)(sk =>
        Dedup.incrementalMinHash(inBatch, sk, idCol, textCol, threshold = t)
          .localCheckpoint())
    }
  }

  /** Start the ingest stream: `docs` must contain `idCol`, `textCol`, and
    * `partitionCols`. Returns the StreamingQuery handle. Each non-empty
    * micro-batch runs [[ingestRound]] over frames read from the paths.
    *
    * With `digestPath` set, a digest TABLE (one 16-byte md5 per kept doc)
    * is maintained next to the corpus and the anti-join runs against it —
    * the base corpus text is never rescanned on ingest
    * ([[Dedup.incrementalExactByDigest]]); without it, the digests are
    * hashed from the base corpus's text column. Write order is corpus
    * first, digests second: a crash between the two re-admits a duplicate
    * on the next batch (benign — it gets filtered against the corpus
    * content it duplicates downstream), instead of a digest existing for a
    * body that was never committed (which would silently drop that
    * document forever).
    *
    * With `sketchPath` set, the stream additionally drops NEAR-duplicates
    * (estimated Jaccard ≥ `nearDupThreshold`), within the batch and
    * against the minhash sketch table ([[Dedup.minHashSketchTable]])
    * maintained at `sketchPath` — the fuzzy analogue of the digest table,
    * in the md5 family every sketch in the library uses. Same corpus-first
    * write order: a crash that commits bodies but not sketches re-ADMITS a
    * later near-dup (benign, cleanable offline); the reverse order could
    * drop future novel documents against sketches of bodies that never
    * committed.
    */
  def incrementalCorpusIngest(
      docs: DataFrame,
      basePath: String,
      checkpointDir: String,
      partitionCols: Seq[String] = Seq("source"),
      idCol: String = "doc_id",
      textCol: String = "text",
      digestPath: Option[String] = None,
      sketchPath: Option[String] = None,
      nearDupThreshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // an empty batch must not touch the sink: writing it would create
        // basePath with only _SUCCESS, and a schema-less parquet dir kills
        // every later batch's base read ("Unable to infer schema")
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val fs = new Path(basePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          def existing(p: String): Option[String] =
            Some(p).filter(q => fs.exists(new Path(q)))
          val seenDigests = digestPath match {
            case Some(dp) => existing(dp).map(spark.read.parquet(_))
            // pin the schema: tolerant of a base dir a crashed attempt
            // left behind with no data files
            case None => existing(basePath).map(bp =>
              spark.read.schema(batch.schema).parquet(bp)
                .select(md5(col(textCol)).as("digest")))
          }
          // the round's lineage cuts are load-bearing here, not a cache
          // nicety: the kept set's plan READS the digest/sketch paths this
          // batch also APPENDS to, and DataFrameWriter append triggers
          // recacheByPath on the target, which re-materializes every cached
          // plan reading it against the NEW file list. A merely persisted
          // kept set would be recomputed after the first append and
          // anti-join itself against its own just-written digests — later
          // sinks would then see it EMPTY (the sketch table silently lost
          // every batch's rows). The cut pins the batch's rows as concrete
          // blocks whose plan references no path at all.
          val novel = ingestRound(batch, seenDigests,
            sketchPath.map(_ => nearDupThreshold),
            sketchPath.flatMap(existing).map(spark.read.parquet(_)),
            idCol, textCol)
          try {
            // same all-empty guard for all sinks, same reason as above
            if (!novel.isEmpty) {
              novel.write.mode("append")
                .partitionBy(partitionCols: _*).parquet(basePath)
              digestPath.foreach { dp =>
                novel.select(md5(col(textCol)).as("digest"))
                  .write.mode("append").parquet(dp)
              }
              sketchPath.foreach { sp =>
                Dedup.minHashSketchTable(novel, idCol, textCol)
                  .write.mode("append").parquet(sp)
              }
            }
          } finally {
            novel.unpersist(blocking = false)
            // the LSH pair join persists its own sketch table per batch
            graft.operators.OperatorCaches.release(spark)
          }
        }
      }
      .start()
}
