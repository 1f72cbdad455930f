package graft.tools

import graft.{Chaos, Engine}
import graft.streaming.EventsStreaming

/** Child JVM for the LIVE torn-batch chaos arm (driven by
  * ClusterCheck): runs the events exact-quantile streaming rollup over
  * a source directory until no data remains, then exits 0. When
  * `haltAtBatch` >= 0, [[graft.Chaos.afterBatchWrite]] halts THIS
  * process the instant that micro-batch's table write lands — before
  * the streaming engine appends the batch's commit-log entry — so the
  * parent observes a real process death inside the write-to-commit
  * window (exit code 137, offsets/N present, commits/N absent, the
  * batch's partition files on disk).
  *
  * A fresh process has a fresh in-memory catalog, so a restart
  * incarnation re-registers the stream-owned table over its existing
  * files (the persistent-metastore analogue every real deployment
  * has) before resuming from the checkpoint.
  *
  * args: <srcDir> <checkpointDir> <warehouseDir> <table> <haltAtBatch>
  */
object TornBatch {

  def main(args: Array[String]): Unit = {
    val Array(src, ckpt, wh, table, haltAt) = args.take(5)
    val spark = Engine.session("local[8]", "graft-tornbatch-child", 8,
      Map("spark.sql.warehouse.dir" -> wh))
    spark.sparkContext.setLogLevel("ERROR")
    if (haltAt.toLong >= 0L) spark.conf.set(Chaos.HaltAfterBatchWrite, haltAt)

    val loc = new java.io.File(wh, table)
    if (loc.exists && !spark.catalog.tableExists(table)) {
      // schema from the files themselves; batch_id is the (trailing)
      // partition level Layout.idempotentBatchAppend owns
      val onDisk = spark.read.parquet(loc.toString)
      val dataCols = onDisk.schema.fields.filterNot(_.name == "batch_id")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE $table ($dataCols, batch_id BIGINT) " +
        s"USING PARQUET PARTITIONED BY (batch_id) LOCATION '${loc.toURI}'")
      spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    }

    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(src)
    val q = EventsStreaming.exactQuantileRollupQuery(stream, table,
      Seq("event_type"), "value", Some(ckpt))
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    spark.stop()
    sys.exit(0)
  }
}
