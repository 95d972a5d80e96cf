package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Proves the streaming lane's state genuinely lives in RocksDB (r7
  * verdict ask #5), not just that a conf string is set: a stateful drain
  * over an inspectable checkpoint must leave RocksDB's snapshot artifacts
  * (`<version>.zip` per state partition) and NONE of the HDFS-backed
  * provider's `.delta` files — while still matching the batch answer.
  * Result correctness for the full st1–st31 surface under RocksDB is
  * covered by StreamingQueriesSpec (every stateful query flows through
  * `childSession`, which defaults the provider on).
  */
class RocksDbStateStoreSpec extends SparkSuite {

  test("childSession defaults to the RocksDB state store provider") {
    val child = StreamingQueries.childSession(spark)
    assert(child.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    // the other constants of the drained-stream posture
    assert(child.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(child.conf.get("spark.sql.files.maxPartitionBytes") === s"${2 * 1024 * 1024}")
    assert(child.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "true")
    // the outer session's runtime confs hold in the child: a zone set at
    // runtime formats the streamed hours exactly as the batch query does
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      assert(StreamingQueries.childSession(spark).conf
        .get("spark.sql.session.timeZone") === "Asia/Tokyo")
      val dir = "/root/testdata/sf0.001"
      val streamed = graft.SparkEntry.queries("st1_stream_hourly")(spark, dir)
        .collect()
      val batch = graft.SparkEntry.queries("e1_event_hourly")(spark, dir)
        .collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("stateful drain writes RocksDB state artifacts and matches batch") {
    val dir = "/root/testdata/sf0.001"
    val spark2 = StreamingQueries.childSession(spark)
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_rocksdb_spec_ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark2.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)

    val schema = spark2.read.parquet(s"$dir/events.parquet").schema
    val name = "rocksdb_spec_counts"
    val q = spark2.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark2.table(name).orderBy("event_type").collect()
    val batch = spark2.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)

    // walk the checkpoint's state dir: with changelog checkpointing on
    // (the r12 default posture) each commit uploads an N.changelog and
    // full snapshots move to the maintenance thread, so the per-batch
    // artifact is the changelog (a .zip may or may not have landed yet);
    // the heap-backed provider's .delta files must be absent either way
    val stateFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else stateFiles += st.getPath.getName
      }
    walk(new org.apache.hadoop.fs.Path(s"$ckpt/state"))
    assert(stateFiles.exists(n =>
        n.endsWith(".changelog") || n.endsWith(".zip")),
      s"expected RocksDB changelog/snapshot artifacts, saw: $stateFiles")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      s"HDFS-backed provider artifacts present — RocksDB not engaged: $stateFiles")
  }
}
