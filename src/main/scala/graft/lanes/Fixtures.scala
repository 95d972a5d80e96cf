package graft.lanes

import org.apache.spark.sql.functions._

import graft.SparkEntry.defaultP
import graft.operators.{
  BloomPipeline, Bucketing, FilterStore, Ratings, Similarity, Tables, Tokenizer}
import BloomLanes.shardedSlabBits

/** Every fixture the lanes read, in Bench's setup order. */
object Fixtures {
  val filters = Fixture.written("filters") { (s, dir, path) =>
    FilterStore.save(
      BloomPipeline.buildFilters(Ratings.trainFromLineitem(s, dir), defaultP), path)
  }

  val shardedFilters = Fixture.written("sharded_filters") { (s, dir, path) =>
    FilterStore.save(
      BloomPipeline.buildShardedFilters(
        Ratings.trainFromLineitem(s, dir), defaultP, shardedSlabBits), path)
  }

  val filtersSeq = Fixture.written("filters_seq") { (s, dir, path) =>
    // the reference's literal K2 artifact format (Hadoop SequenceFile)
    FilterStore.saveSequenceFile(
      BloomPipeline.buildFilters(Ratings.trainFromLineitem(s, dir), defaultP), path)
  }

  val splitTsv = Fixture.written("split_tsv") { (s, dir, path) =>
    Tables(s, dir, "lineitem").where(col("l_quantity") >= 2.5)
      .select(format_string("it%d-%d\t%s",
        col("l_orderkey"), col("l_linenumber"), col("l_quantity")).as("value"))
      .write.mode("overwrite").text(path)
  }

  val ratingsTsv = Fixture.written("ratings_tsv") { (s, dir, path) =>
    Tables(s, dir, "lineitem")
      .where(col("l_quantity") >= 2.5)
      .select(
        concat(lit("it"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("movieId"),
        (col("l_quantity") / 5.0).as("averageRating"),
        lit(1).as("numVotes"))
      .write.mode("overwrite").option("sep", "\t").option("header", "true").csv(path)
  }

  val docsFragmented = Fixture.written("docs_fragmented") { (s, dir, path) =>
    // the pathological layout every long-run ingest produces: the
    // corpus sprayed across 64 tiny files (k8_compact's input)
    Tables(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(path)
  }

  val bpeMerges = Fixture.written("bpe_merges") { (s, dir, path) =>
    // the tokenizer-training artifact: 8 BPE merges learned once from
    // the corpus (Tokenizer.bpeTrain), persisted like every other
    // train-once/serve-many model in the repo; the encode query and
    // its spec gate load this same artifact.
    Tokenizer.bpeTrain(Tables(s, dir, "documents"), nMerges = 8)
      .write.mode("overwrite").parquet(path)
  }

  val pqCodebook = Fixture.written("pq_codebook") { (s, dir, path) =>
    // the ANN layer's model artifact: the PQ codebook trains OFFLINE
    // once (spherical k-means over the corpus) and every encode/search
    // run loads the same artifact — the lifecycle the reference gives
    // its filters. Queries and the recall gates all probe this one.
    Similarity.savePqCodebook(Tables(s, dir, "embeddings"), path)
  }

  val pqCodebookRes = Fixture.written("pq_codebook_res") { (s, dir, path) =>
    // sibling artifact for the residual-encoded composition: trained on
    // the v - centroid(v) distribution against the SAME coarse
    // quantizer the serve path derives (defaults pinned on both sides)
    Similarity.saveResidualPqCodebook(Tables(s, dir, "embeddings"), path)
  }

  val docsCsv = Fixture.written("docs_csv") { (s, dir, path) =>
    // the corpus itself has no quotes/commas/newlines — prepend them so
    // the escaping machinery is actually exercised, not just present
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(lit("\"q\", \n"), col("text")).as("text"))
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"")
      .csv(path)
  }

  val docsJsonl = Fixture.written("docs_jsonl") { (s, dir, path) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").json(path)
  }

  val docsJsonlDirty = Fixture.written("docs_jsonl_dirty") { (s, dir, path) =>
    // every 50th doc's line loses its closing chars -> malformed
    // JSON, the s5 PERMISSIVE corrupt-record lane's input
    val js = "to_json(struct(doc_id, lang, n_chars))"
    Tables(s, dir, "documents")
      .select(when(col("doc_id") % 50 === 0,
          expr(s"substring($js, 1, length($js) - 2)"))
        .otherwise(expr(js)).as("value"))
      .write.mode("overwrite").text(path)
  }

  val eventsByType = Fixture.written("events_by_type") { (s, dir, path) =>
    Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
  }

  val docsByLangMeta = Fixture.written("docs_by_lang_meta") { (s, dir, path) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(path)
  }

  val docsEvolved = Fixture.written("docs_evolved") { (s, dir, path) =>
    // two dataset generations with DIFFERENT schemas: gen=1 predates
    // the n_chars column, gen=2 carries it — the evolved-over-years
    // source layout s6 reads back through one mergeSchema scan
    val d = Tables(s, dir, "documents")
    d.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$path/gen=1")
    d.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$path/gen=2")
  }

  val docsOrc = Fixture.written("docs_orc") { (s, dir, path) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").orc(path)
  }

  val docsZstd = Fixture.written("docs_zstd") { (s, dir, path) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .write.mode("overwrite")
      .option("compression", "zstd").parquet(path)
  }

  // storage-pruning twins: ONE file each, tiny row groups. The sorted
  // layout (by doc_id, no parquet blooms) lets range predicates skip row
  // groups via footer min/max; the scrambled layout carries a parquet
  // BLOOM FILTER on `source`, so an equality probe for an absent value
  // skips every row group even though min/max can't exclude it — the
  // storage-side complement of the engine's own filters. Pruning is
  // observable because Spark leaves record-level filtering to itself
  // (spark.sql.parquet.recordLevelFilter.enabled=false default): the
  // scan's numOutputRows IS the undecoded-row-group drop, asserted in
  // ParquetPruningSpec.
  // Dictionary encoding is disabled on both twins: at test cardinality
  // parquet dictionary pages prove absence on their own, which is
  // exactly the mechanism that FALLS AWAY on high-cardinality columns
  // at real scale — the regime parquet blooms exist for. Plain-encoded
  // pages model that regime at sf-test size.
  val docsRgSorted = Fixture.written("docs_rg_sorted") { (s, dir, path) =>
    Tables(s, dir, "documents")
      .coalesce(1).sortWithinPartitions("doc_id")
      .write.mode("overwrite")
      .option("parquet.block.size", (16 * 1024).toString)
      .option("parquet.enable.dictionary", "false")
      .parquet(path)
  }

  val docsRgScrambled = Fixture.written("docs_rg_scrambled") { (s, dir, path) =>
    Tables(s, dir, "documents")
      .orderBy(xxhash64(col("doc_id")))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (16 * 1024).toString)
      .option("parquet.enable.dictionary", "false")
      .option("parquet.bloom.filter.enabled#source", "true")
      .parquet(path)
  }

  // one-time bucketed-table CREATEs (b1's timed region is then the
  // exchange-free join itself)
  val bucketedTables = Fixture("bucketed_tables") { (s, dir) =>
    val suffix = math.abs(dir.hashCode).toString
    Bucketing.ensureBucketed(s,
      Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      s"graft_li_$suffix", "l_orderkey")
    Bucketing.ensureBucketed(s,
      Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      s"graft_od_$suffix", "o_orderkey")
  }

  val all: Seq[Fixture] = Seq(filters, shardedFilters, filtersSeq, splitTsv,
    ratingsTsv, docsFragmented, bpeMerges, pqCodebook, pqCodebookRes, docsCsv,
    docsJsonl, docsJsonlDirty, eventsByType, docsByLangMeta, docsEvolved,
    docsOrc, docsZstd, docsRgSorted, docsRgScrambled, bucketedTables)
}
