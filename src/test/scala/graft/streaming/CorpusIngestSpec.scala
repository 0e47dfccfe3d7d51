package graft.streaming

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

class CorpusIngestSpec extends SparkSpec {

  test("streaming ingest keeps only novel texts across batches, partitioned by source") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    withTempDir("corpus") { dir =>
      withTempDir("ckpt") { ckpt =>
        val in = MemoryStream[(Long, String, String)]
        val docs = in.toDF().toDF("doc_id", "text", "source")

        val q = CorpusIngest.incrementalCorpusIngest(docs, s"$dir/corpus", ckpt)

        // batch 0 is EMPTY: must not create a schema-less sink dir that would
        // poison every later base read
        q.processAllAvailable()

        // batch 1: a within-batch duplicate (ids 1,2 same text) + one unique
        in.addData((1L, "alpha beta", "web"), (2L, "alpha beta", "web"),
          (3L, "gamma delta", "books"))
        q.processAllAvailable()
        // batch 2: repeats batch-1 content under new ids + one genuinely new doc
        in.addData((10L, "alpha beta", "web"), (11L, "gamma delta", "web"),
          (12L, "epsilon zeta", "web"))
        q.processAllAvailable()
        q.stop()

        val corpus = spark.read.parquet(s"$dir/corpus")
          .select("doc_id", "text", "source").collect()
        // one row per distinct text; within-batch dup kept the lowest id;
        // cross-batch repeats (even under another source) never re-ingested
        assert(corpus.map(_.getString(1)).sorted.toSeq ===
          Seq("alpha beta", "epsilon zeta", "gamma delta"))
        assert(corpus.map(r => r.getString(1) -> r.getLong(0)).toMap ===
          Map("alpha beta" -> 1L, "gamma delta" -> 3L, "epsilon zeta" -> 12L))
        // hive partition layout by source survives
        assert(new java.io.File(s"$dir/corpus/source=web").exists())
        assert(new java.io.File(s"$dir/corpus/source=books").exists())
      }
    }
  }

  test("digest-table ingest: same dedup, base text never rescanned") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    withTempDir("corpus-dg") { dir =>
      withTempDir("ckpt-dg") { ckpt =>
        val in = MemoryStream[(Long, String, String)]
        val docs = in.toDF().toDF("doc_id", "text", "source")

        val q = CorpusIngest.incrementalCorpusIngest(docs, s"$dir/corpus", ckpt,
          digestPath = Some(s"$dir/digests"))
        in.addData((1L, "alpha beta", "web"), (3L, "gamma delta", "books"))
        q.processAllAvailable()
        in.addData((10L, "alpha beta", "web"), (12L, "epsilon zeta", "web"))
        q.processAllAvailable()
        q.stop()

        val corpus = spark.read.parquet(s"$dir/corpus")
        assert(corpus.select("text").collect().map(_.getString(0)).sorted.toSeq ===
          Seq("alpha beta", "epsilon zeta", "gamma delta"))
        // one digest per kept doc, nothing for the filtered duplicate
        assert(spark.read.parquet(s"$dir/digests").distinct().count() === 3L)

        // the decisive part: a fresh ingest round can dedup against the corpus
        // with the corpus BODIES gone — only the digest table is consulted
        import org.apache.hadoop.fs.Path
        val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(s"$dir/corpus"), true)
        withTempDir("ckpt-dg2") { ckpt2 =>
          val in2 = MemoryStream[(Long, String, String)]
          val q2 = CorpusIngest.incrementalCorpusIngest(
            in2.toDF().toDF("doc_id", "text", "source"), s"$dir/corpus", ckpt2,
            digestPath = Some(s"$dir/digests"))
          in2.addData((20L, "alpha beta", "web"), (21L, "theta iota", "web"))
          q2.processAllAvailable()
          q2.stop()
          // the cross-batch duplicate was filtered purely via digests
          assert(spark.read.parquet(s"$dir/corpus").select("text").collect()
            .map(_.getString(0)).toSeq === Seq("theta iota"))
        }
      }
    }
  }

  test("near-dup ingest: sketch table drops fuzzy repeats within and across batches") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    withTempDir("corpus-nd") { dir =>
      withTempDir("ckpt-nd") { ckpt =>
        val in = MemoryStream[(Long, String, String)]
        val docs = in.toDF().toDF("doc_id", "text", "source")
        val q = CorpusIngest.incrementalCorpusIngest(docs, s"$dir/corpus", ckpt,
          digestPath = Some(s"$dir/digests"), sketchPath = Some(s"$dir/sketches"))

        val baseText = "the quick brown fox jumps over the lazy dog near the river bank"
        // batch 1: base doc + a WITHIN-batch near-dup (one appended word,
        // higher id loses) + an unrelated doc
        in.addData(
          (1L, baseText, "web"),
          (2L, baseText + " today", "web"),
          (3L, "spark engines compile declarative plans into distributed stages", "web"))
        q.processAllAvailable()
        // batch 2: a CROSS-batch near-dup of doc 1 (filtered via the sketch
        // table) + a genuinely fresh doc
        in.addData(
          (10L, baseText + " again", "web"),
          (11L, "entirely fresh content that matches nothing at all anywhere", "web"))
        q.processAllAvailable()
        q.stop()

        val kept = spark.read.parquet(s"$dir/corpus")
          .select("doc_id").collect().map(_.getLong(0)).sorted
        assert(kept === Array(1L, 3L, 11L))
        // one sketch row per kept doc — the probe state tracks the corpus
        val sk = spark.read.parquet(s"$dir/sketches")
        assert(sk.columns.toSeq.sorted === Seq("id", "sig"))
        assert(sk.select("id").collect().map(_.getLong(0)).sorted === Array(1L, 3L, 11L))
      }
    }
  }

  test("within-batch near-dup prune matches fuzzyDedupClusters' transitive policy") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    withTempDir("corpus-cc") { dir =>
      withTempDir("ckpt-cc") { ckpt =>
        val in = MemoryStream[(Long, String, String)]
        val docs = in.toDF().toDF("doc_id", "text", "source")
        val q = CorpusIngest.incrementalCorpusIngest(docs, s"$dir/corpus", ckpt,
          digestPath = Some(s"$dir/digests"), sketchPath = Some(s"$dir/sketches"))
        // a transitive chain in ONE batch: 1~2 and 2~3 near-match (one word
        // swapped at different ends), 1~3 may not pair directly — the whole
        // component still collapses to the min-id representative, exactly the
        // batch-path (fuzzyDedupClusters) policy, so a streamed corpus can't
        // diverge from a batch-deduped one
        val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
        val batch = Seq(
          (1L, base, "web"),
          (2L, base.replace("alpha", "zulu"), "web"),
          (3L, base.replace("alpha", "zulu").replace("lima", "mike"), "web"),
          (7L, "completely different text about distributed query execution engines", "web"))
        in.addData(batch: _*)
        q.processAllAvailable()
        q.stop()
        val kept = spark.read.parquet(s"$dir/corpus")
          .select("doc_id").collect().map(_.getLong(0)).sorted
        // same docs through the batch-path operator
        val viaBatch = graft.operators.Dedup
          .fuzzyDedupClusters(batch.toDF("doc_id", "text", "source"))
          .filter(col("keep")).select("id").collect().map(_.getLong(0)).sorted
        assert(kept === viaBatch)
        assert(kept === Array(1L, 7L))
      }
    }
  }

  test("incrementalExactByDigest plans one scan: the digest table, not the corpus") {
    val spark0 = spark
    import spark0.implicits._
    withTempDir("dg-plan") { dir =>
      Seq((1L, "alpha beta", "web")).toDF("doc_id", "text", "source")
        .write.parquet(s"$dir/corpus")
      Seq("0cc175b9c0f1b6a831c399e269772661").toDF("digest")
        .write.parquet(s"$dir/digests")
      val batch = Seq((2L, "new text", "web")).toDF("doc_id", "text", "source")
      val novel = graft.operators.Dedup.incrementalExactByDigest(
        batch, spark.read.parquet(s"$dir/digests"))
      novel.collect()
      val plan = novel.queryExecution.executedPlan.toString
      assert(plan.contains("digests"), plan)   // the digest table is scanned…
      assert(!plan.contains("corpus"), plan)   // …the corpus text never is
    }
  }
}
