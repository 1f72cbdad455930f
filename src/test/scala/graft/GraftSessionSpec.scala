package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Statement-surface parity: the exact grammar the reference accepts
  * (sql.lalrpop:28-39) driven end to end through GraftSession.execute. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val sess = new GraftSession(spark, Some(TestSpark.sf))

  test("SELECT without FROM (the reference's only executable query shape)") {
    val r = sess.execute("SELECT 1 + 2 AS three, 'x' AS s").head
    assert(r.getInt(0) == 3 && r.getString(1) == "x")
  }

  test("SELECT with the full relational surface (what the catalog declares)") {
    assert(sess.execute(
      "SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1").count() == 3)
  }

  test("splitStatements: top-level semicolons only, quotes/comments/dollar respected") {
    import GraftSession.splitStatements
    assert(splitStatements("SELECT 1; SELECT 2") == Seq("SELECT 1", "SELECT 2"))
    assert(splitStatements("SELECT 1;") == Seq("SELECT 1"))
    assert(splitStatements("  ;  ; ") == Seq.empty)
    assert(splitStatements("") == Seq.empty)
    assert(splitStatements("SELECT 'a;b'; SELECT 2") ==
      Seq("SELECT 'a;b'", "SELECT 2"))
    assert(splitStatements("SELECT 'it''s; fine'") == Seq("SELECT 'it''s; fine'"))
    assert(splitStatements("SELECT E'x\\';y'; SELECT 9") ==
      Seq("SELECT E'x\\';y'", "SELECT 9"))
    assert(splitStatements("SELECT \"a;b\" FROM t; SELECT 2") ==
      Seq("SELECT \"a;b\" FROM t", "SELECT 2"))
    assert(splitStatements("SELECT 1 -- c;omment\n; SELECT 2") ==
      Seq("SELECT 1 -- c;omment", "SELECT 2"))
    assert(splitStatements("SELECT 1 /* a;b /* nest;ed */ x */; SELECT 2") ==
      Seq("SELECT 1 /* a;b /* nest;ed */ x */", "SELECT 2"))
    assert(splitStatements("SELECT $$a;b$$; SELECT $t$c;d$t$") ==
      Seq("SELECT $$a;b$$", "SELECT $t$c;d$t$"))
  }

  test("SET / SHOW round-trip GUCs with reference defaults") {
    assert(sess.execute("SHOW batch_size").head.getString(0) == "1024")
    sess.execute("SET batch_size = 2048")
    assert(sess.execute("SHOW batch_size").head.getString(0) == "2048")
    assert(sess.execute("SHOW all").count() >= 10)
    intercept[IllegalArgumentException](sess.execute("SHOW no_such_guc"))
    intercept[IllegalArgumentException](sess.execute("SET nope = 1"))
  }

  test("the full gucdef.yaml envelope: 22 GUCs, boot values, typed SET") {
    val s = new GraftSession(spark)
    // all 22 reference GUCs exist with their boot_vals (gucdef.yaml)
    assert(s.execute("SHOW all").count() == 22)
    assert(s.execute("SHOW port").head.getString(0) == "1218")
    assert(s.execute("SHOW search_path").head.getString(0) == "public,kb_catalog")
    assert(s.execute("SHOW enable_cs_wal").head.getString(0) == "false")
    assert(s.execute("SHOW server_version").head.getString(0) == "0.0.1")
    assert(s.execute("SHOW log_min_messages").head.getString(0) == "DEBUG2")
    assert(s.execute("SHOW xid_stop_limit").head.getString(0) == "2000000000")
    assert(s.execute("SHOW seq_page_cost").head.getString(0) == "1.0")
    // vartype enforcement (utility.rs to_i32/to_f64/to_bool): a mistyped
    // value errors instead of storing a string
    intercept[IllegalArgumentException](s.execute("SET port = 'abc'"))
    intercept[IllegalArgumentException](s.execute("SET seq_page_cost = 'fast'"))
    intercept[IllegalArgumentException](s.execute("SET enable_cs_wal = maybe"))
    // typed store: SHOW renders the canonical form, not the raw spelling
    // (the reference stores the to_bool/to_i32 result, not the string)
    s.execute("SET enable_cs_wal = on")
    assert(s.execute("SHOW enable_cs_wal").head.getString(0) == "true")
    s.execute("SET enable_cs_wal = 'no'")
    assert(s.execute("SHOW enable_cs_wal").head.getString(0) == "false")
    s.execute("SET port = '+5432'")
    assert(s.execute("SHOW port").head.getString(0) == "5432")
    s.execute("SET seq_page_cost = 2.5")
    assert(s.execute("SHOW seq_page_cost").head.getString(0) == "2.5")
    // REPORT-flagged set = what the wire front-end sends as ParameterStatus
    assert(s.reportGucs.map(_._1) ==
      Seq("server_version", "server_encoding", "client_encoding", "is_superuser"))
  }

  test("transaction block state machine incl. aborted-block rejection") {
    assert(sess.execute("BEGIN").head.getString(0) == "BEGIN")
    assert(sess.transactionState == "in_transaction")
    assert(sess.execute("COMMIT").head.getString(0) == "COMMIT")
    assert(sess.transactionState == "idle")
    sess.execute("BEGIN")
    assert(sess.execute("ROLLBACK").head.getString(0) == "ROLLBACK")
    // statement failure aborts the block (lib.rs:468-473 ->
    // xact.rs:573-576 Inprogress -> Abort): subsequent statements are
    // rejected with 25P02 until COMMIT/ABORT, and COMMIT of an aborted
    // block reports ROLLBACK
    sess.execute("BEGIN")
    intercept[Exception](sess.execute("SELECT * FROM no_such_table_xyz"))
    assert(sess.transactionState == "failed_transaction")
    val rejected = intercept[GraftStateError](sess.execute("SELECT 1"))
    assert(rejected.sqlstate == Errors.InFailedSqlTransaction)
    assert(sess.execute("COMMIT").head.getString(0) == "ROLLBACK")
    assert(sess.transactionState == "idle")
  }

  test("cross-session lock conflicts follow the lmgr matrix (lmgr.rs:105-160)") {
    val a = new GraftSession(spark, Some(TestSpark.sf))
    val b = new GraftSession(spark, Some(TestSpark.sf))
    // conflicts in this test are PERMANENT (the holder never releases
    // while the waiter asks) — shrink the bounded wait so each refused
    // acquire fails fast instead of sleeping out the full default
    val prevTimeout = GraftSession.LockManager.waitTimeoutMs
    GraftSession.LockManager.waitTimeoutMs = 200L
    a.execute("BEGIN"); b.execute("BEGIN")
    try {
      // SHARE + SHARE: self-compatible — both sessions may hold it
      a.execute("LOCK TABLE nation IN SHARE MODE")
      b.execute("LOCK TABLE nation IN SHARE MODE")
      // SHARE + EXCLUSIVE: conflicting — second session is refused, and
      // the failure aborts b's block (xact.rs: Inprogress -> Abort): b
      // must roll back and start over, exactly like PG
      intercept[IllegalStateException](
        b.execute("LOCK TABLE nation IN EXCLUSIVE MODE"))
      assert(b.transactionState == "failed_transaction")
      b.execute("ROLLBACK"); b.execute("BEGIN")
      // a session's own grants never conflict with its new requests
      a.execute("LOCK TABLE region IN ACCESS EXCLUSIVE MODE")
      a.execute("LOCK TABLE region IN ACCESS SHARE MODE")
      // but another session is shut out of an ACCESS EXCLUSIVE'd table
      intercept[IllegalStateException](
        b.execute("LOCK TABLE region IN ACCESS SHARE MODE"))
      b.execute("ROLLBACK"); b.execute("BEGIN")
    } finally {
      a.execute("COMMIT")
      GraftSession.LockManager.waitTimeoutMs = prevTimeout
    }
    // released on COMMIT: b can now take the previously conflicting lock
    b.execute("LOCK TABLE region IN EXCLUSIVE MODE")
    b.execute("ABORT")
    // and ABORT released b's grants too
    val c = new GraftSession(spark, Some(TestSpark.sf))
    c.execute("BEGIN")
    c.execute("LOCK TABLE region IN ACCESS EXCLUSIVE MODE")
    c.execute("COMMIT")
  }

  test("conflicting LOCK waits for release; bounded wait times out as 55P03 (lmgr.rs:277-373)") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val a = new GraftSession(spark, Some(TestSpark.sf))
    val b = new GraftSession(spark, Some(TestSpark.sf))
    val prevTimeout = GraftSession.LockManager.waitTimeoutMs
    try {
      // 1) the reference semantics: B's conflicting acquire BLOCKS
      //    until A commits, then succeeds (lmgr waiters re-check on
      //    every release)
      GraftSession.LockManager.waitTimeoutMs = 60000L
      a.execute("BEGIN"); b.execute("BEGIN")
      a.execute("LOCK TABLE nation IN EXCLUSIVE MODE")
      // SHARE conflicts with EXCLUSIVE (ACCESS SHARE would not — the
      // matrix lets plain reads pass an EXCLUSIVE holder)
      val blocked = Future(b.execute("LOCK TABLE nation IN SHARE MODE"))
      Thread.sleep(300)
      assert(!blocked.isCompleted, "B must block while A holds the conflict")
      a.execute("COMMIT")
      Await.result(blocked, 10.seconds)
      assert(b.locks.contains(("nation", "SHARE")))
      b.execute("COMMIT")

      // 2) the bounded-wait divergence: holder never releases -> the
      //    waiter fails with PG's lock_timeout SQLSTATE and its block
      //    aborts like any failed statement
      GraftSession.LockManager.waitTimeoutMs = 250L
      a.execute("BEGIN"); b.execute("BEGIN")
      a.execute("LOCK TABLE region IN ACCESS EXCLUSIVE MODE")
      val e = intercept[GraftStateError](
        b.execute("LOCK TABLE region IN ACCESS SHARE MODE"))
      assert(e.sqlstate == Errors.LockNotAvailable)
      assert(b.transactionState == "failed_transaction")
      b.execute("ROLLBACK")
    } finally {
      GraftSession.LockManager.waitTimeoutMs = prevTimeout
      try a.execute("ABORT") catch { case _: Throwable => }
      try b.execute("ABORT") catch { case _: Throwable => }
    }
  }

  test("cross-session deadlock: cycle-closing acquire fails fast with 40P01 (deadlock.c semantics)") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val a = new GraftSession(spark, Some(TestSpark.sf))
    val b = new GraftSession(spark, Some(TestSpark.sf))
    val prevTimeout = GraftSession.LockManager.waitTimeoutMs
    try {
      // the timeout is 60s: if the victim were resolved by the bounded
      // wait (two 55P03s — the pre-r9 behavior), this test would hang
      // for a minute and fail on the sqlstate; a prompt 40P01 proves
      // the wait-for-graph detector fired
      GraftSession.LockManager.waitTimeoutMs = 60000L
      a.execute("BEGIN"); b.execute("BEGIN")
      a.execute("LOCK TABLE nation IN EXCLUSIVE MODE")
      b.execute("LOCK TABLE region IN EXCLUSIVE MODE")
      val aBlocked = Future(a.execute("LOCK TABLE region IN SHARE MODE"))
      Thread.sleep(300) // let A reach its wait edge
      assert(!aBlocked.isCompleted, "A must be blocked on B's grant")
      val t0 = System.nanoTime()
      val e = intercept[GraftStateError](
        b.execute("LOCK TABLE nation IN SHARE MODE")) // closes the cycle
      assert(e.sqlstate == Errors.DeadlockDetected, e.getMessage)
      assert((System.nanoTime() - t0) < 5.seconds.toNanos,
        "victim must fail via the detector, not the wait deadline")
      assert(b.transactionState == "failed_transaction")
      b.execute("ROLLBACK") // victim releases -> A's acquire proceeds
      Await.result(aBlocked, 10.seconds)
      assert(a.locks.contains(("region", "SHARE")))
      a.execute("COMMIT")
    } finally {
      GraftSession.LockManager.waitTimeoutMs = prevTimeout
      try a.execute("ABORT") catch { case _: Throwable => }
      try b.execute("ABORT") catch { case _: Throwable => }
    }
  }

  test("three-session deadlock cycle: exactly one 40P01 victim, survivors complete") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val a = new GraftSession(spark, Some(TestSpark.sf))
    val b = new GraftSession(spark, Some(TestSpark.sf))
    val c = new GraftSession(spark, Some(TestSpark.sf))
    val prevTimeout = GraftSession.LockManager.waitTimeoutMs
    try {
      GraftSession.LockManager.waitTimeoutMs = 60000L
      a.execute("BEGIN"); b.execute("BEGIN"); c.execute("BEGIN")
      a.execute("LOCK TABLE nation IN EXCLUSIVE MODE")
      b.execute("LOCK TABLE region IN EXCLUSIVE MODE")
      c.execute("LOCK TABLE supplier IN EXCLUSIVE MODE")
      // A -> B and B -> C wait edges, then C closes the 3-cycle
      val aBlocked = Future(a.execute("LOCK TABLE region IN SHARE MODE"))
      Thread.sleep(300)
      assert(!aBlocked.isCompleted)
      val bBlocked = Future(b.execute("LOCK TABLE supplier IN SHARE MODE"))
      Thread.sleep(300)
      assert(!bBlocked.isCompleted)
      val e = intercept[GraftStateError](
        c.execute("LOCK TABLE nation IN SHARE MODE"))
      assert(e.sqlstate == Errors.DeadlockDetected, e.getMessage)
      // exactly ONE victim: the survivors are still blocked, not failed
      assert(!aBlocked.isCompleted && !bBlocked.isCompleted)
      c.execute("ROLLBACK") // victim releases supplier -> B proceeds
      Await.result(bBlocked, 10.seconds)
      b.execute("COMMIT") // releases region -> A proceeds
      Await.result(aBlocked, 10.seconds)
      a.execute("COMMIT")
      assert(GraftSession.LockManager.waitingSnapshot.isEmpty,
        "no wait edges may survive the resolved cycle")
    } finally {
      GraftSession.LockManager.waitTimeoutMs = prevTimeout
      Seq(a, b, c).foreach(s =>
        try s.execute("ABORT") catch { case _: Throwable => })
    }
  }

  test("two independent cycles closing concurrently: one victim each, no stale edges") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val Seq(a, b, c, d) =
      Seq.fill(4)(new GraftSession(spark, Some(TestSpark.sf)))
    val prevTimeout = GraftSession.LockManager.waitTimeoutMs
    try {
      GraftSession.LockManager.waitTimeoutMs = 60000L
      Seq(a, b, c, d).foreach(_.execute("BEGIN"))
      a.execute("LOCK TABLE nation IN EXCLUSIVE MODE")
      b.execute("LOCK TABLE region IN EXCLUSIVE MODE")
      c.execute("LOCK TABLE supplier IN EXCLUSIVE MODE")
      d.execute("LOCK TABLE part IN EXCLUSIVE MODE")
      // A -> B and C -> D wait edges (two disjoint pairs)
      val aBlocked = Future(a.execute("LOCK TABLE region IN SHARE MODE"))
      val cBlocked = Future(c.execute("LOCK TABLE part IN SHARE MODE"))
      Thread.sleep(300)
      assert(!aBlocked.isCompleted && !cBlocked.isCompleted)
      // B and D close their cycles SIMULTANEOUSLY; the manager monitor
      // serializes the checks — each must victimize only itself
      val bVictim = Future(
        intercept[GraftStateError](b.execute("LOCK TABLE nation IN SHARE MODE")))
      val dVictim = Future(
        intercept[GraftStateError](d.execute("LOCK TABLE supplier IN SHARE MODE")))
      assert(Await.result(bVictim, 10.seconds).sqlstate == Errors.DeadlockDetected)
      assert(Await.result(dVictim, 10.seconds).sqlstate == Errors.DeadlockDetected)
      b.execute("ROLLBACK"); d.execute("ROLLBACK")
      Await.result(aBlocked, 10.seconds)
      Await.result(cBlocked, 10.seconds)
      a.execute("COMMIT"); c.execute("COMMIT")
      assert(GraftSession.LockManager.waitingSnapshot.isEmpty)
    } finally {
      GraftSession.LockManager.waitTimeoutMs = prevTimeout
      Seq(a, b, c, d).foreach(s =>
        try s.execute("ABORT") catch { case _: Throwable => })
    }
  }

  test("repeated deadlock cycles leave no stale wait edges (grant-time cleanup)") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val prevTimeout = GraftSession.LockManager.waitTimeoutMs
    try {
      GraftSession.LockManager.waitTimeoutMs = 60000L
      for (round <- 1 to 2) {
        val a = new GraftSession(spark, Some(TestSpark.sf))
        val b = new GraftSession(spark, Some(TestSpark.sf))
        try {
          a.execute("BEGIN"); b.execute("BEGIN")
          a.execute("LOCK TABLE nation IN EXCLUSIVE MODE")
          b.execute("LOCK TABLE region IN EXCLUSIVE MODE")
          val aBlocked = Future(a.execute("LOCK TABLE region IN SHARE MODE"))
          Thread.sleep(300)
          val e = intercept[GraftStateError](
            b.execute("LOCK TABLE nation IN SHARE MODE"))
          assert(e.sqlstate == Errors.DeadlockDetected,
            s"round $round: ${e.getMessage} (a stale edge from an earlier " +
              "round would mis-route the cycle check)")
          b.execute("ROLLBACK")
          Await.result(aBlocked, 10.seconds)
          a.execute("COMMIT")
          assert(GraftSession.LockManager.waitingSnapshot.isEmpty,
            s"round $round left stale wait edges")
        } finally Seq(a, b).foreach(s =>
          try s.execute("ABORT") catch { case _: Throwable => })
      }
    } finally GraftSession.LockManager.waitTimeoutMs = prevTimeout
  }

  test("search_path resolves unqualified relations in namespace order (namespace.rs:29-70)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS public")
    spark.sql("DROP TABLE IF EXISTS public.sp_probe_t")
    spark.sql("CREATE TABLE public.sp_probe_t (a int) USING parquet")
    try {
      val s = new GraftSession(spark, Some(TestSpark.sf))
      // default search_path = public,kb_catalog (gucdef.yaml:80) ->
      // the unqualified name resolves in public
      s.execute("BEGIN")
      assert(s.execute("LOCK TABLE sp_probe_t IN ACCESS SHARE MODE")
        .head.getString(0) == "LOCK TABLE")
      assert(s.locks.contains(("public.sp_probe_t", "ACCESS SHARE")))
      s.execute("COMMIT")
      // temp views shadow search_path namespaces (PG's implicit temp ns)
      assert(s.resolveRelation("lineitem") == "lineitem")
      // an unqualified miss everywhere passes through (error surfaces
      // at spark.table, matching rv_get_oid's failure point)
      assert(s.resolveRelation("no_such_rel_anywhere") == "no_such_rel_anywhere")
    } finally spark.sql("DROP TABLE IF EXISTS public.sp_probe_t")
  }

  test("LOCK requires a transaction block and a valid mode (lockcmds.rs:18-24)") {
    intercept[IllegalStateException](sess.execute("LOCK TABLE lineitem"))
    sess.execute("BEGIN")
    assert(sess.execute("LOCK TABLE lineitem IN ACCESS SHARE MODE")
      .head.getString(0) == "LOCK TABLE")
    assert(sess.locks.contains(("lineitem", "ACCESS SHARE")))
    intercept[IllegalArgumentException](
      sess.execute("LOCK TABLE lineitem IN BOGUS MODE"))
    sess.execute("COMMIT")
    assert(sess.locks.isEmpty) // released at txn end
  }

  test("COPY rejects unrecognized options and mistyped values (copy.rs:202-270)") {
    val unknown = intercept[GraftArgError](
      sess.execute("COPY lineitem FROM '/tmp/nope.csv' WITH BOGUS"))
    assert(unknown.sqlstate == Errors.SyntaxError) // copy.rs:261
    val mistyped = intercept[GraftArgError](
      sess.execute("COPY lineitem FROM '/tmp/nope.csv' (parallel 'two')"))
    assert(mistyped.sqlstate == Errors.InvalidParameterValue) // copy.rs:242
  }

  test("CREATE TYPE is a parse-and-acknowledge stub (typecmds.rs:17-28)") {
    assert(sess.execute("CREATE TYPE mytype").head.getString(0)
      .contains("CreateTypeStmt"))
  }

  test("CREATE TABLE + COPY FROM/TO round trip (the reference's ingest path)") {
    sess.execute("DROP TABLE IF EXISTS copy_target")
    // a previous JVM's in-memory metastore is gone but its warehouse dir
    // survives; clear the physical location so CREATE TABLE can reclaim it
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "copy_target")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    sess.execute("CREATE TABLE copy_target (a int, b smallint, c varchar(10))")
    intercept[Exception] { // not allowed in txn block (tablecmds.rs:105)
      sess.execute("BEGIN")
      try sess.execute("CREATE TABLE nope_t (a int)") finally sess.execute("ABORT")
    }
    val csv = Files.createTempFile("graft_sess", ".csv")
    Files.writeString(csv, "1|2|hello\n3|NN|world\n")
    sess.execute(s"COPY copy_target FROM '${csv}' DELIMITERS '|' NULL 'NN' (parallel 2)")
    val rows = sess.execute("SELECT * FROM copy_target ORDER BY a").collect()
    assert(rows.length == 2)
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "world")
    val out = Files.createTempDirectory("graft_copy_to").toString + "/out"
    sess.execute(s"COPY copy_target TO '$out'")
    assert(new java.io.File(out).exists())

    // WITH CSV HEADER round trip
    val csvH = Files.createTempFile("graft_sess_h", ".csv")
    Files.writeString(csvH, "a|b|c\n5|6|hdr\n")
    sess.execute(s"COPY copy_target FROM '$csvH' WITH CSV HEADER DELIMITERS '|'")
    assert(sess.execute("SELECT c FROM copy_target WHERE a = 5").head.getString(0) == "hdr")
  }

  test("CREATE TABLE WITH (reloptions) -> table properties (rel.rs:20-25)") {
    sess.execute("DROP TABLE IF EXISTS relopt_t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "relopt_t")
    if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
    sess.execute(
      "CREATE TABLE relopt_t (a int) WITH (data_blk_rows = 65536, enable_cs_wal = true)")
    val props = spark.sql("SHOW TBLPROPERTIES relopt_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("data_blk_rows").contains("65536"))
    assert(props.get("enable_cs_wal").contains("true"))
    // Sconst values (grammar: ident = NumericOnly | Sconst) and rejects
    sess.execute("DROP TABLE IF EXISTS relopt_t2")
    val loc2 = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "relopt_t2")
    if (loc2.exists()) new scala.reflect.io.Directory(loc2).deleteRecursively()
    sess.execute("CREATE TABLE relopt_t2 (a int) WITH (note = 'hello, world')")
    val p2 = spark.sql("SHOW TBLPROPERTIES relopt_t2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(p2.get("note").contains("hello, world"))
    intercept[IllegalArgumentException](
      sess.execute("CREATE TABLE relopt_bad (a int) WITH ()"))
    intercept[IllegalArgumentException](
      sess.execute("CREATE TABLE relopt_bad (a int) WITH (oids)"))
  }

  test("parameterized queries bind named parameters (extended-protocol analogue)") {
    val r = sess.execute(
      "SELECT count(*) AS n FROM lineitem WHERE l_quantity >= :minq AND l_returnflag = :rf",
      Map("minq" -> 49.0, "rf" -> "R"))
    assert(r.head.getLong(0) > 0)
    // binding, not splicing: a quote in the value cannot break the query
    val s = sess.execute("SELECT :v AS v", Map("v" -> "o'brien"))
    assert(s.head.getString(0) == "o'brien")
  }

  test("empty statement -> EmptyQueryResponse (lib.rs:453-457)") {
    assert(sess.execute("  ").head.getString(0) == "EmptyQueryResponse")
  }

  test("kb_* catalog views reflect the session catalog (initdb parity)") {
    Catalog.registerKbViews(spark)
    val cls = spark.sql("SELECT relname FROM kb_class").collect().map(_.getString(0))
    assert(cls.contains("lineitem"))
    val attrs = spark.sql(
      """SELECT a.attname, t.typname FROM kb_attribute a
         JOIN kb_class c ON a.attrelid = c.oid
         JOIN kb_type t ON a.atttypid = t.oid
         WHERE c.relname = 'lineitem' ORDER BY a.attnum""").collect()
    assert(attrs.length == 11)
    assert(attrs.head.getString(0) == "l_orderkey" && attrs.head.getString(1) == "int8")
    assert(spark.sql("SELECT * FROM kb_type WHERE typname = 'varchar'")
      .head.getInt(2) == -1) // varlena typlen
  }

  test("catalog restart parity: a fresh session over the same warehouse sees identical kb rows (catalog.rs:37)") {
    // The reference's SQLite catalog survives restart (src/catalog.rs:37);
    // here CREATE TABLE metadata lives in the shared external catalog +
    // warehouse, and the kb_* views rebuild per session from it. A
    // newSession() is the in-JVM restart analogue: all session state
    // (temp views, registered kb_* views) is gone, the warehouse is not.
    spark.sql("DROP TABLE IF EXISTS restart_probe")
    val s1 = new GraftSession(spark, Some(TestSpark.sf))
    s1.execute("CREATE TABLE restart_probe (a int NOT NULL, b varchar(5), c bigint)")
    def kbRows(sp: org.apache.spark.sql.SparkSession): Seq[String] = {
      Catalog.registerKbViews(sp)
      sp.sql(
        """SELECT c.relkind, a.attname, a.atttypid, a.attlen, a.attnum,
                  a.attnotnull
           FROM kb_attribute a JOIN kb_class c ON a.attrelid = c.oid
           WHERE c.relname = 'restart_probe' ORDER BY a.attnum""")
        .collect().map(_.toString).toSeq
    }
    val before = kbRows(spark)
    assert(before.length == 3 && before.head.contains("true"), before.mkString("; "))
    try {
      val spark2 = spark.newSession()
      val s2 = new GraftSession(spark2, Some(TestSpark.sf))
      assert(kbRows(spark2) == before,
        "fresh session must rebuild identical kb_class/kb_attribute rows")
      // the varchar typmod survives in the stored schema metadata
      // (Spark keeps char/varchar in __CHAR_VARCHAR_TYPE_STRING; the
      // raw type stays STRING)
      assert(spark2.table("restart_probe").schema("b").metadata.json
        .contains("varchar(5)"))
      // NOT NULL survives as catalog metadata AND is enforced on the
      // fresh session's COPY ingest (23502)
      val schema2 = spark2.table("restart_probe").schema
      val e = intercept[Exception](s2.copyInRows("restart_probe", schema2,
        graft.sources.Copy.Options(), ",x,2\n"))
      assert(e.getMessage.contains("not-null"), e.getMessage)
      s2.copyInRows("restart_probe", schema2, graft.sources.Copy.Options(),
        "1,hello,2\n")
      assert(s2.execute("SELECT COUNT(*) AS n FROM restart_probe")
        .head.getLong(0) == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS restart_probe")
  }

  test("Catalog.notNullCols: NOT NULL columns, empty for temp views, other errors propagate") {
    spark.sql("DROP TABLE IF EXISTS nn_probe")
    spark.sql("DROP TABLE IF EXISTS nn_plain")
    sess.execute("CREATE TABLE nn_probe (a int NOT NULL, b bigint, c int NOT NULL)")
    sess.execute("CREATE TABLE nn_plain (a int, b bigint)")
    try {
      assert(Catalog.notNullCols(spark, "nn_probe") == Set("a", "c"))
      assert(Catalog.notNullCols(spark, "nn_plain") == Set.empty)
      spark.range(1).createOrReplaceTempView("nn_view")
      assert(Catalog.notNullCols(spark, "nn_view") == Set.empty)
      // an unknown table is a catalog error, not "no constraints": COPY's
      // 23502 enforcement must not silently switch off
      intercept[org.apache.spark.sql.AnalysisException](
        Catalog.notNullCols(spark, "nn_no_such_table"))
    } finally {
      spark.catalog.dropTempView("nn_view")
      spark.sql("DROP TABLE IF EXISTS nn_probe")
      spark.sql("DROP TABLE IF EXISTS nn_plain")
    }
  }

  test("declared arithmetic proc matrix is SQL-callable with PG semantics") {
    // mixed-width procs from the bootstrap catalog (initdb:528-584)
    assert(spark.sql("SELECT int24pl(CAST(1 AS SMALLINT), 2)").head.getInt(0) == 3)
    assert(spark.sql("SELECT int48mul(3, CAST(4 AS BIGINT))").head.getLong(0) == 12L)
    assert(spark.sql("SELECT int8div(CAST(-7 AS BIGINT), CAST(2 AS BIGINT))")
      .head.getLong(0) == -3L) // PG integer division truncates toward zero
    assert(spark.sql("SELECT float48mul(CAST(1.5 AS FLOAT), CAST(2.0 AS DOUBLE))")
      .head.getDouble(0) == 3.0)
    assert(spark.sql("SELECT float4div(CAST(1 AS FLOAT), CAST(2 AS FLOAT))")
      .head.getFloat(0) == 0.5f) // result type float4 per the catalog
    // ANSI overflow errors (adt.rs:29-34 parity)
    val e = intercept[Exception] {
      spark.sql("SELECT int2pl(CAST(32767 AS SMALLINT), CAST(1 AS SMALLINT))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("overflow"))
  }

  test("documented divergence: txn-block reads see external writes (no MVCC snapshot)") {
    // The reference gives statements in a BEGIN block a consistent
    // snapshot (src/access/xact.rs:77-99, csmvcc.rs). Graft's documented
    // divergence (SURVEY §7.3): Spark has no multi-statement snapshot;
    // each statement reads CURRENT table state, while every individual
    // write stays atomic via the parquet commit protocol. This spec
    // pins the divergence as intended behavior, not a regression.
    spark.sql("DROP TABLE IF EXISTS mvcc_probe_t")
    sess.execute("CREATE TABLE mvcc_probe_t (a int)")
    sess.execute("BEGIN")
    try {
      assert(sess.execute("SELECT COUNT(*) AS n FROM mvcc_probe_t").head.getLong(0) == 0)
      spark.sql("INSERT INTO mvcc_probe_t VALUES (1)") // another writer, mid-block
      // reference under snapshot isolation: still 0; graft: sees the write
      assert(sess.execute("SELECT COUNT(*) AS n FROM mvcc_probe_t").head.getLong(0) == 1)
    } finally {
      sess.execute("COMMIT")
      spark.sql("DROP TABLE IF EXISTS mvcc_probe_t")
    }
  }

  test("kb_proc and kb_operator expose the declared surface") {
    Catalog.registerKbViews(spark)
    // every operator row resolves to a registered proc by name (the
    // kb_operator.oprcode -> kb_proc join the analyzer does, sem.rs:221-262)
    val dangling = spark.sql(
      """SELECT o.oprcode FROM kb_operator o
         LEFT JOIN kb_proc p ON o.oprcode = p.proname
         WHERE p.proname IS NULL""").count()
    assert(dangling == 0)
    // the FULL reference bootstrap envelope (initdb/main.rs:464-650):
    // 186 operator rows, and all 203 reference procs present (kb_proc
    // additionally carries the graft kernel procs, prefixed graft_)
    assert(spark.sql("SELECT COUNT(*) FROM kb_operator").head.getLong(0) == 186)
    assert(spark.sql(
      "SELECT COUNT(*) FROM kb_proc WHERE proname NOT LIKE 'graft%'")
      .head.getLong(0) == 203)
    // the round-3 gap rows exist and execute: |/ ||/ ^ ! !! ~~ !~~ % +(unary)
    for (sym <- Seq("|/", "||/", "^", "!", "!!", "~~", "!~~", "%", "||"))
      assert(spark.sql(
        s"SELECT COUNT(*) FROM kb_operator WHERE oprname = '${sym.replace("'", "''")}'")
        .head.getLong(0) >= 1, s"missing operator $sym")
    assert(spark.sql("SELECT int4mod(7, 3)").head.getInt(0) == 1)
    assert(spark.sql("SELECT int4up(-7)").head.getInt(0) == -7)
    assert(spark.sql("SELECT numeric_fac(5)").head.getLong(0) == 120L)
    assert(spark.sql("SELECT boolout(true)").head.getString(0) == "t")
    assert(spark.sql("SELECT byteaout(byteain('\\\\x6162'))").head.getString(0) == "\\x6162")
    assert(spark.sql("SELECT bytealike(CAST('abc' AS BINARY), CAST('a%' AS BINARY))")
      .head.getBoolean(0))
    assert(spark.sql("SELECT varchartypmodout(varchartypmodin('10'))")
      .head.getString(0) == "(10)")
    // comparison and bitwise families present with PG symbols
    assert(spark.sql(
      "SELECT oprcode FROM kb_operator WHERE oprname = '<=' AND oprleft = 23 AND oprright = 20")
      .head.getString(0) == "int48le")
    assert(spark.sql(
      "SELECT oprcode FROM kb_operator WHERE oprname = '#' AND oprleft = 20")
      .head.getString(0) == "int8xor")
    assert(spark.sql("SELECT int48le(3, CAST(4 AS BIGINT))").head.getBoolean(0))
    assert(spark.sql("SELECT int2shl(CAST(3 AS SMALLINT), 2)").head.getShort(0) == 12)
    assert(spark.sql("SELECT float8abs(-2.5)").head.getDouble(0) == 2.5)
    assert(spark.sql("SELECT dpow(2.0, 10.0)").head.getDouble(0) == 1024.0)
    val r = spark.sql(
      """SELECT p.prorettype FROM kb_operator o JOIN kb_proc p ON o.oprcode = p.proname
         WHERE o.oprname = '+' AND o.oprleft = 21 AND o.oprright = 23""").head
    assert(r.getInt(0) == 23) // int2 + int4 -> int4
    assert(spark.sql("SELECT nspname FROM kb_namespace ORDER BY oid")
      .collect().map(_.getString(0)).toSeq == Seq("kb_catalog", "public"))
  }
}
