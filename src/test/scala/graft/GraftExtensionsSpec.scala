package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions=graft.GraftExtensions wires the function surface") {
    // The JVM's SparkContext, and with it the graft defaults in its
    // SparkConf, must come from Engine.session, not from the builder
    // below, whichever suite runs first.
    TestSpark.spark
    // Build a FRESH session (sharing the JVM's SparkContext) with the
    // extension installed the deploy way. getOrCreate() must not grab —
    // or stop() — the shared test session, so save/clear/restore the
    // active+default sessions around it.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    try {
      // withExtensions = the programmatic route through the same
      // injectFunction calls the static `spark.sql.extensions=graft.
      // GraftExtensions` conf triggers on a cluster (the static conf
      // cannot be applied to this JVM's already-running SparkContext)
      val spark = SparkSession.builder().master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // a brand-new session has no temp-registered functions, so resolving
      // graft_* proves the extension injection path
      val r = spark.sql(
        "SELECT graft_fnv64('abc') AS h, graft_cosine(array(1.0, 0.0), array(1.0, 0.0)) AS c")
        .head
      assert(r.getLong(0) == 0xe71fa2190541574bL)
      assert(r.getDouble(1) == 1.0)
      assert(spark.sql("DESCRIBE FUNCTION graft_minhash").collect()
        .map(_.getString(0)).mkString.contains("graft_minhash"))
      // the whole surface, not a hand-copied subset: a kernel, a proc of
      // the arithmetic matrix and a typoutput function
      val w = spark.sql("SELECT size(graft_tokens('Hello big world')) AS n, " +
        "int4pl(2, 3) AS s, byteaout(X'CAFE') AS b").head
      assert(w.getInt(0) == 3)
      assert(w.getInt(1) == 5)
      assert(w.getString(2) == "\\xcafe")
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("the function list names each function once") {
    val names = graft.functions.GraftFunctions.sqlFunctions.map(_._1.funcName)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).distinct.mkString(", "))
  }

  test("varchar(n) typmod is enforced on write (SURVEY §7.3)") {
    val spark = TestSpark.spark
    val sess = new GraftSession(spark)
    sess.execute("DROP TABLE IF EXISTS vc_t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "vc_t")
    if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
    sess.execute("CREATE TABLE vc_t (a int, s varchar(5))")
    sess.execute("INSERT INTO vc_t VALUES (1, 'ok')")
    val e = intercept[Exception](
      sess.execute("INSERT INTO vc_t VALUES (2, 'way too long for five')"))
    assert(e.getMessage.toLowerCase.contains("char") ||
      e.getMessage.contains("EXCEED"), e.getMessage)
    assert(sess.execute("SELECT count(*) FROM vc_t").head.getLong(0) == 1)
  }
}
