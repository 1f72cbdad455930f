package graft

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `Engine.table` reads with a schema resolved once per snapshot of the
  * files under the table's path (and per set of the session's parquet
  * confs), so a warm call runs no Spark job, while the frame still lists
  * and scans its files on every call: an appended part file, a replaced
  * file and a flipped conf all reach the next call. */
class TableSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def jobsInGroup(body: => Unit): Int =
    JobCounter.jobsInGroup(spark, "table-schema-spec")(body)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def nation = Engine.table(spark, TestSpark.sf, "nation")

  test("a warm Engine.table on an unchanged file runs no job") {
    val cold = Engine.table(spark, TestSpark.sf, "lineitem")
    var warm = cold
    val jobs = jobsInGroup { warm = Engine.table(spark, TestSpark.sf, "lineitem") }
    assert(jobs == 0, s"a warm Engine.table ran $jobs job(s)")
    assert(warm.schema == cold.schema)
    assert(warm.count() == cold.count())
  }

  test("a part file appended under a directory root is counted on the next call") {
    val dir = tempDir("graft_tbl_append")
    nation.write.parquet(s"$dir/t.parquet")
    assert(Engine.table(spark, dir, "t").count() == 25L)
    nation.write.mode(SaveMode.Append).parquet(s"$dir/t.parquet")
    assert(Engine.table(spark, dir, "t").count() == 50L,
      "the next call missed the appended part file")
  }

  test("a file replaced by one with an extra column shows that column on the next call") {
    val dir = tempDir("graft_tbl_replace")
    nation.write.parquet(s"$dir/t.parquet")
    assert(!Engine.table(spark, dir, "t").columns.contains("extra"))
    nation.withColumn("extra", lit(7)).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/t.parquet")
    val after = Engine.table(spark, dir, "t")
    assert(after.columns.contains("extra"), after.schema.treeString)
    assert(after.select("extra").distinct().collect().toSeq == Seq(Row(7)))
  }

  /** A one-row parquet file whose `b` is a plain BINARY column. Spark's
    * own writer stores its schema in the footer, which
    * `spark.sql.parquet.binaryAsString` does not override, so parquet's
    * example writer writes it. */
  private lazy val binaryDir: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val dir = tempDir("graft_tbl_binary")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "abc"))
    finally w.close()
    dir
  }

  test("flipping spark.sql.parquet.binaryAsString changes the schema the next call returns") {
    val s = spark.newSession()
    assert(Engine.table(s, binaryDir, "t").schema("b").dataType == BinaryType)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    val asString = Engine.table(s, binaryDir, "t")
    assert(asString.schema("b").dataType == StringType)
    assert(asString.head().getString(0) == "abc")
    s.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Engine.table(s, binaryDir, "t").schema("b").dataType == BinaryType)
  }

  test("a warm build of q05_nation_revenue runs no job") {
    val build = SparkEntry.queries("q05_nation_revenue")
    build(spark, TestSpark.sf)
    val jobs = jobsInGroup { build(spark, TestSpark.sf) }
    assert(jobs == 0, s"a warm q05 build ran $jobs job(s)")
  }

  test("registerViews on a fresh session runs no job once the schemas are memoized") {
    Engine.tableNames.foreach(Engine.table(spark, TestSpark.sf, _))
    val s = spark.newSession()
    val jobs = jobsInGroup { Engine.registerViews(s, TestSpark.sf) }
    assert(jobs == 0, s"registerViews on a fresh session ran $jobs job(s)")
    assert(s.table("nation").count() == 25L)
  }

  test("a part file appended under a driver table reaches the next Engine.sql call and session statement") {
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft_views_append")
    for (n <- Engine.tableNames) {
      Files.createDirectory(Paths.get(s"$dir/$n.parquet"))
      Files.copy(Paths.get(s"${TestSpark.sf}/$n.parquet"), Paths.get(s"$dir/$n.parquet/part-0.parquet"))
    }
    val count = "SELECT count(*) FROM nation"
    val s = spark.newSession()
    val sess = new GraftSession(spark.newSession(), Some(dir))
    def viaSql = Engine.sql(s, dir, count).head().getLong(0)
    def viaSession = sess.execute(count).head().getLong(0)
    assert(viaSql == 25L && viaSession == 25L)
    assert(jobsInGroup(Engine.registerViews(s, dir)) == 0, "a warm registerViews ran a job")
    Files.copy(Paths.get(s"${TestSpark.sf}/nation.parquet"), Paths.get(s"$dir/nation.parquet/part-1.parquet"))
    assert(viaSql == 50L, "Engine.sql kept the view's old file listing")
    assert(viaSession == 50L, "the session's next statement kept the old file listing")
  }
}
