package graft.wire

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, TestSpark}

/** Drives the v3 wire front-end through a REAL TCP round-trip with a
  * hand-rolled client: startup -> AuthenticationOk -> ParameterStatus ->
  * BackendKeyData -> ReadyForQuery, then simple queries (SELECT / SET /
  * BEGIN / error handling / utility tags) — the reference's
  * do_postgres_main loop surface (src/lib.rs:289-375). */
class WireServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Minimal v3 client for the spec. */
  final class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    // a server that stops answering fails the test instead of hanging it
    sock.setSoTimeout(120000)
    private val in = new DataInputStream(sock.getInputStream)
    private val out = new DataOutputStream(sock.getOutputStream)

    def startup(user: String = "graft"): Unit = {
      val body = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      d.writeInt(196608) // protocol 3.0
      d.write("user".getBytes(UTF_8)); d.write(0)
      d.write(user.getBytes(UTF_8)); d.write(0)
      d.write(0) // param list terminator
      out.writeInt(4 + body.size())
      body.writeTo(out)
      out.flush()
    }

    /** (tag, body) of the next backend message. */
    def read(): (Char, Array[Byte]) = {
      val tag = in.read().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      (tag, body)
    }

    /** Read messages until ReadyForQuery; returns (messages, txStatus). */
    def drain(): (Seq[(Char, Array[Byte])], Char) = {
      val msgs = scala.collection.mutable.ArrayBuffer[(Char, Array[Byte])]()
      var status = ' '
      while (status == ' ') {
        val (tag, body) = read()
        if (tag == 'Z') status = body(0).toChar else msgs += ((tag, body))
      }
      (msgs.toSeq, status)
    }

    def query(q: String): Unit = {
      val qb = q.getBytes(UTF_8)
      out.writeByte('Q'); out.writeInt(4 + qb.length + 1)
      out.write(qb); out.write(0); out.flush()
    }

    def terminate(): Unit = {
      out.writeByte('X'); out.writeInt(4); out.flush(); sock.close()
    }

    def copyData(chunk: String): Unit = {
      val b = chunk.getBytes(UTF_8)
      out.writeByte('d'); out.writeInt(4 + b.length); out.write(b); out.flush()
    }

    def copyDone(): Unit = { out.writeByte('c'); out.writeInt(4); out.flush() }

    def copyFail(reason: String): Unit = {
      val b = reason.getBytes(UTF_8)
      out.writeByte('f'); out.writeInt(4 + b.length + 1)
      out.write(b); out.write(0); out.flush()
    }

    // ---- extended protocol ----
    private def msg(tag: Char, body: Array[Byte]): Unit = {
      out.writeByte(tag); out.writeInt(4 + body.length); out.write(body)
    }
    private def cstrB(s: String): Array[Byte] = {
      val b = s.getBytes(UTF_8)
      java.util.Arrays.copyOf(b, b.length + 1)
    }
    private def i16B(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def i32B(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

    def parse(stmt: String, query: String, oids: Seq[Int] = Nil): Unit =
      msg('P', cstrB(stmt) ++ cstrB(query) ++ i16B(oids.length) ++
        (if (oids.isEmpty) Array.empty[Byte] else oids.map(i32B).reduce(_ ++ _)))

    def bind(portal: String, stmt: String, params: Seq[String],
        resultFmts: Seq[Int] = Nil): Unit = {
      val pv = params.map { p =>
        if (p == null) i32B(-1)
        else { val b = p.getBytes(UTF_8); i32B(b.length) ++ b }
      }
      msg('B', cstrB(portal) ++ cstrB(stmt) ++ i16B(0) ++ i16B(params.length) ++
        (if (pv.isEmpty) Array.empty[Byte] else pv.reduce(_ ++ _)) ++
        i16B(resultFmts.length) ++
        (if (resultFmts.isEmpty) Array.empty[Byte]
         else resultFmts.map(i16B).reduce(_ ++ _)))
    }

    /** Bind with raw (possibly binary-format) parameter payloads. */
    def bindRaw(portal: String, stmt: String, params: Seq[Array[Byte]],
        paramFmts: Seq[Int], resultFmts: Seq[Int] = Nil): Unit = {
      val pv = params.map { p =>
        if (p == null) i32B(-1) else i32B(p.length) ++ p
      }
      msg('B', cstrB(portal) ++ cstrB(stmt) ++
        i16B(paramFmts.length) ++
        (if (paramFmts.isEmpty) Array.empty[Byte]
         else paramFmts.map(i16B).reduce(_ ++ _)) ++
        i16B(params.length) ++
        (if (pv.isEmpty) Array.empty[Byte] else pv.reduce(_ ++ _)) ++
        i16B(resultFmts.length) ++
        (if (resultFmts.isEmpty) Array.empty[Byte]
         else resultFmts.map(i16B).reduce(_ ++ _)))
    }

    def describe(kind: Char, name: String): Unit =
      msg('D', Array(kind.toByte) ++ cstrB(name))
    def executePortal(portal: String, maxRows: Int = 0): Unit =
      msg('E', cstrB(portal) ++ i32B(maxRows))
    def closeStmt(kind: Char, name: String): Unit =
      msg('C', Array(kind.toByte) ++ cstrB(name))
    def sync(): Unit = { msg('S', Array.empty); out.flush() }
    def flushMsg(): Unit = { msg('H', Array.empty); out.flush() }

    /** Text values of all DataRow messages in `msgs`. */
    /** Raw field bytes of all DataRow messages (binary-format tests). */
    def rawRows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[Array[Byte]]] =
      msgs.collect { case ('D', b) =>
        val n = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
        var pos = 2
        (0 until n).map { _ =>
          val len = ((b(pos) & 0xff) << 24) | ((b(pos + 1) & 0xff) << 16) |
            ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
          pos += 4
          if (len == -1) null
          else { val v = b.slice(pos, pos + len); pos += len; v }
        }
      }

    /** Per-field format codes from a RowDescription message. */
    def rowDescFmts(msgs: Seq[(Char, Array[Byte])]): Seq[Int] =
      msgs.collectFirst { case ('T', b) =>
        val n = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
        var pos = 2
        (0 until n).map { _ =>
          while (b(pos) != 0) pos += 1
          pos += 1 + 4 + 2 + 4 + 2 + 4 // oid/attnum/typoid/typlen/typmod
          val f = ((b(pos) & 0xff) << 8) | (b(pos + 1) & 0xff)
          pos += 2
          f
        }
      }.getOrElse(Nil)

    def dataRows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[String]] =
      msgs.collect { case ('D', b) =>
        val n = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
        var pos = 2
        (0 until n).map { _ =>
          val len = ((b(pos) & 0xff) << 24) | ((b(pos + 1) & 0xff) << 16) |
            ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
          pos += 4
          if (len == -1) null
          else { val s = new String(b, pos, len, UTF_8); pos += len; s }
        }
      }

    /** The session id of BackendKeyData ('K') in the startup messages. */
    def sessionId(msgs: Seq[(Char, Array[Byte])]): Int =
      msgs.collectFirst { case ('K', b) =>
        ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 8) | (b(3) & 0xff)
      }.get

    def cstrAt(b: Array[Byte], pos: Int): String =
      new String(b, pos, b.indexOf(0: Byte, pos) - pos, UTF_8)

    /** Field map (S severity / C sqlstate / M message) of the first
      * ErrorResponse in `msgs`. */
    def errFields(msgs: Seq[(Char, Array[Byte])]): Map[Char, String] =
      msgs.collectFirst { case ('E', b) =>
        var pos = 0
        val m = scala.collection.mutable.Map[Char, String]()
        while (pos < b.length && b(pos) != 0) {
          val f = b(pos).toChar; pos += 1
          val s = cstrAt(b, pos); pos += s.getBytes(UTF_8).length + 1
          m(f) = s
        }
        m.toMap
      }.getOrElse(Map.empty)
  }

  test("startup handshake then SELECT round-trips rows over TCP") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup()
      val (hello, status) = c.drain()
      assert(status == 'I')
      assert(hello.head._1 == 'R' && hello.head._2.forall(_ == 0)) // AuthenticationOk
      assert(hello.exists(_._1 == 'S')) // ParameterStatus
      assert(hello.exists(_._1 == 'K')) // BackendKeyData

      c.query("SELECT 1 + 2 AS three, 'x' AS s")
      val (msgs, _) = c.drain()
      val rowDesc = msgs.find(_._1 == 'T').get._2
      assert(c.cstrAt(rowDesc, 2) == "three") // first field name after int16 count
      assert(c.dataRows(msgs) == Seq(Seq("3", "x")))
      assert(msgs.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "SELECT 1" })
      c.terminate()
    } finally srv.close()
  }

  test("concurrent clients: isolated session state, correct results, no cross-talk") {
    // thread-per-conn sharing ONE SparkSession + lock table + catalog:
    // six parallel clients interleave engine queries with per-session
    // GUC writes; each must read back ITS OWN value and ITS OWN rows
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 6).map { i =>
        new Thread(() => {
          try {
            val c = new Client(srv.boundPort)
            c.startup(s"user$i")
            c.drain()
            val myBatch = (1000 + i).toString
            c.query(s"SET batch_size = $myBatch")
            c.drain()
            (0 until 3).foreach { r =>
              // distinct arithmetic per client+round: a swapped result
              // between sessions cannot go unnoticed
              c.query(s"SELECT ${i * 100} + $r AS v")
              val (m1, _) = c.drain()
              val got = c.dataRows(m1)
              if (got != Seq(Seq((i * 100 + r).toString)))
                errors.add(s"client $i round $r: $got")
              c.query("SELECT count(*) AS n FROM nation")
              val (m2, _) = c.drain()
              if (c.dataRows(m2) != Seq(Seq("25")))
                errors.add(s"client $i nation count: ${c.dataRows(m2)}")
            }
            c.query("SHOW batch_size")
            val (m3, _) = c.drain()
            if (c.dataRows(m3).map(_.last) != Seq(myBatch))
              errors.add(s"client $i SHOW leak: ${c.dataRows(m3)} != $myBatch")
            c.terminate()
          } catch { case e: Throwable => errors.add(s"client $i: $e") }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      // a hung client enqueues no error — the join timeout alone would
      // let a deadlocked run pass vacuously; a live thread must fail
      val hung = threads.filter(_.isAlive)
      assert(hung.isEmpty, s"${hung.size} client thread(s) still alive after join timeout")
      assert(errors.isEmpty, errors.toString)
    } finally srv.close()
  }

  test("chaos: 8 clients mix DDL/COPY/query/LOCK with the deadlock detector engaged") {
    // every client owns a private table (DDL + COPY + SELECT) and
    // fights over nation/region in OPPOSITE lock orders inside
    // transactions — the deadlock-cycle shape, so the detector's
    // 40P01 fires under real concurrency. Contract: lock statements
    // may fail (40P01 is the detector WORKING; the block then aborts
    // per the state machine and the round ends in ABORT), everything
    // else must succeed, every session stays correct and isolated,
    // and every thread finishes — a hang is the one unacceptable
    // outcome.
    val N = 8
    (0 until N).foreach(i => spark.sql(s"DROP TABLE IF EXISTS chaos_t$i"))
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val deadlocks = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until N).map { i =>
        new Thread(() => {
          try {
            val c = new Client(srv.boundPort)
            c.startup(s"chaos$i"); c.drain()
            val myBatch = (2000 + i).toString
            c.query(s"SET batch_size = $myBatch"); c.drain()
            c.query(s"CREATE TABLE chaos_t$i (id int, name varchar(16))")
            val (ddl, _) = c.drain()
            if (ddl.exists(_._1 == 'E'))
              errors.add(s"client $i DDL failed")
            c.query(s"COPY chaos_t$i FROM STDIN")
            if (c.read()._1 != 'G') errors.add(s"client $i no CopyInResponse")
            (0 to i).foreach(r => c.copyData(s"$r,row$r\n"))
            c.copyDone()
            val (cp, _) = c.drain()
            if (!cp.exists { case (t, b) =>
                t == 'C' && c.cstrAt(b, 0) == s"COPY ${i + 1}" })
              errors.add(s"client $i COPY tag wrong")
            val (first, second) =
              if (i % 2 == 0) ("nation", "region") else ("region", "nation")
            (1 to 3).foreach { _ =>
              c.query("BEGIN"); c.drain()
              var lockErr = false
              for (t <- Seq(first, second)) {
                c.query(s"LOCK TABLE $t IN EXCLUSIVE MODE")
                val (m, _) = c.drain()
                if (m.exists(_._1 == 'E')) {
                  lockErr = true
                  val code = c.errFields(m).getOrElse('C', "?")
                  if (code == "40P01") deadlocks.incrementAndGet()
                  else if (code != "25P02") // post-error statement in block
                    errors.add(s"client $i LOCK $t unexpected sqlstate $code")
                }
              }
              c.query("ABORT"); c.drain() // releases grants either way
              c.query(s"SELECT count(*) AS n FROM chaos_t$i")
              val (cnt, _) = c.drain()
              if (c.dataRows(cnt) != Seq(Seq((i + 1).toString)))
                errors.add(s"client $i count drifted: ${c.dataRows(cnt)}")
            }
            c.query("SHOW batch_size")
            val (sh, _) = c.drain()
            if (c.dataRows(sh).map(_.last) != Seq(myBatch))
              errors.add(s"client $i GUC leak: ${c.dataRows(sh)}")
            c.terminate()
          } catch { case e: Throwable => errors.add(s"client $i: $e") }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(180000))
      val hung = threads.filter(_.isAlive)
      assert(hung.isEmpty,
        s"${hung.size} chaos client(s) hung (deadlock not detected?)")
      assert(errors.isEmpty, errors.toString)
      // own-table rows survived the storm, visible engine-side too
      (0 until N).foreach { i =>
        assert(spark.table(s"chaos_t$i").count() == i + 1)
      }
    } finally {
      srv.close()
      (0 until N).foreach(i => spark.sql(s"DROP TABLE IF EXISTS chaos_t$i"))
    }
  }

  test("SET/SHOW/BEGIN drive utility tags and transaction status bytes") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()

      c.query("SET batch_size = 4096")
      val (setMsgs, st1) = c.drain()
      assert(setMsgs.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "SET" })
      assert(st1 == 'I')

      c.query("SHOW batch_size")
      val (showMsgs, _) = c.drain()
      // reference shape: one column NAMED the guc, one value row
      // (utility.rs:40-44 + lib.rs:391-409 write_str_response)
      assert(c.dataRows(showMsgs) == Seq(Seq("4096")))

      c.query("BEGIN")
      val (_, st2) = c.drain()
      assert(st2 == 'T') // in transaction block

      c.query("SELECT broken syntax here !!!")
      val (errMsgs, st3) = c.drain()
      assert(errMsgs.exists(_._1 == 'E'))
      // the error aborted neither protocol nor session, but PG keeps the
      // block usable until an explicit ABORT in our state machine
      c.query("COMMIT")
      val (_, st4) = c.drain()
      assert(st4 == 'I')
      assert(st3 == 'T' || st3 == 'E')
      c.terminate()
    } finally srv.close()
  }

  test("cross-session lock conflicts surface as ErrorResponse over TCP") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val a = new Client(srv.boundPort); a.startup(); a.drain()
      val b = new Client(srv.boundPort); b.startup(); b.drain()
      a.query("BEGIN"); a.drain()
      b.query("BEGIN"); b.drain()
      a.query("LOCK TABLE part IN EXCLUSIVE MODE")
      val (aMsgs, _) = a.drain()
      assert(aMsgs.exists { case (t, m) => t == 'C' && a.cstrAt(m, 0) == "LOCK TABLE" })
      // the conflicting grant from another TCP session is refused with a
      // protocol ErrorResponse, and the failure aborts b's block (PG
      // semantics: status 'E', roll back to continue)
      b.query("LOCK TABLE part IN EXCLUSIVE MODE")
      val (bMsgs, bSt) = b.drain()
      assert(bMsgs.exists(_._1 == 'E'))
      assert(bSt == 'E')
      a.query("COMMIT"); a.drain() // releases a's grant
      b.query("ROLLBACK"); b.drain()
      b.query("BEGIN"); b.drain()
      b.query("LOCK TABLE part IN EXCLUSIVE MODE")
      val (bMsgs2, _) = b.drain()
      assert(bMsgs2.exists { case (t, m) => t == 'C' && b.cstrAt(m, 0) == "LOCK TABLE" })
      b.query("COMMIT"); b.drain()
      a.terminate(); b.terminate()
    } finally srv.close()
  }

  test("CancelRequest with the BackendKeyData pair is accepted; session stays healthy") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup()
      val (hello, _) = c.drain()
      val key = hello.find(_._1 == 'K').get._2 // int32 sid, int32 cancel key
      // a second raw connection carrying the cancel code + (sid, key);
      // the server validates against its cancel map, cancels the target
      // session's job group, and closes without responding (protocol)
      val sock = new Socket("127.0.0.1", srv.boundPort)
      val out = new DataOutputStream(sock.getOutputStream)
      out.writeInt(16); out.writeInt(80877102); out.write(key); out.flush()
      assert(sock.getInputStream.read() == -1) // closed, no response
      // the target session was idle: cancel is a no-op and the
      // connection continues serving queries
      c.query("SELECT 41 + 1 AS x")
      val (msgs, _) = c.drain()
      assert(c.dataRows(msgs) == Seq(Seq("42")))
      c.terminate()
    } finally srv.close()
  }

  test("ErrorResponse carries reference SQLSTATEs (errcodes.rs scheme)") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("SHOW no_such_guc")
      assert(c.errFields(c.drain()._1)('C') == "42704") // undefined_object (utility.rs:143)
      c.query("SET port = 'abc'")
      assert(c.errFields(c.drain()._1)('C') == "22023") // invalid_parameter_value
      c.query("SELECT * FROM no_such_table_qq")
      assert(c.errFields(c.drain()._1)('C') == "42P01") // Spark's own TABLE_OR_VIEW_NOT_FOUND
      c.query("LOCK TABLE nation")
      assert(c.errFields(c.drain()._1)('C') == "25P01") // no_active_sql_transaction
      // failure inside a block aborts it: status 'E', further statements
      // rejected with 25P02 until rollback (lib.rs:448-452,468-473)
      c.query("BEGIN"); c.drain()
      c.query("SELECT * FROM no_such_table_qq"); c.drain()
      c.query("SELECT 1")
      val (rejected, st) = c.drain()
      assert(c.errFields(rejected)('C') == "25P02") // in_failed_sql_transaction
      assert(st == 'E')
      c.query("ROLLBACK"); c.drain()
      c.query("SELECT 1 AS ok")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("1")))
      c.terminate()
    } finally srv.close()
  }

  test("COPY FROM STDIN round-trips rows through the copy-in sub-protocol") {
    spark.sql("DROP TABLE IF EXISTS wire_copy_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_copy_t (id int, name varchar(16))")
      c.drain()

      c.query("COPY wire_copy_t FROM STDIN")
      // CopyInResponse: format 0 (text), 2 columns, per-column format 0
      val (g, gb) = c.read()
      assert(g == 'G')
      assert(gb(0) == 0 && (((gb(1) & 0xff) << 8) | (gb(2) & 0xff)) == 2)
      // rows split across CopyData messages mid-line: the server must
      // accumulate bytes, not parse per message
      c.copyData("1,al")
      c.copyData("pha\n2,beta\n")
      c.copyData("3,gamma\n")
      c.copyDone()
      val (msgs, _) = c.drain()
      assert(msgs.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "COPY 3" },
        s"got: ${msgs.map(m => m._1 + ":" + c.cstrAt(m._2, 0))}")

      c.query("SELECT id, name FROM wire_copy_t ORDER BY id")
      val (rows, _) = c.drain()
      assert(c.dataRows(rows) ==
        Seq(Seq("1", "alpha"), Seq("2", "beta"), Seq("3", "gamma")))

      // CopyFail aborts the copy with the client's reason (57014) and
      // leaves the table untouched; the session keeps serving
      c.query("COPY wire_copy_t FROM STDIN")
      assert(c.read()._1 == 'G')
      c.copyData("9,never\n")
      c.copyFail("client changed its mind")
      val (failMsgs, _) = c.drain()
      assert(c.errFields(failMsgs)('C') == "57014")
      c.query("SELECT COUNT(*) AS n FROM wire_copy_t")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("3")))

      // options flow through the same copy.rs grammar as file COPY
      c.query("COPY wire_copy_t FROM STDIN USING DELIMITERS '|'")
      assert(c.read()._1 == 'G')
      c.copyData("4|delta\n")
      c.copyDone()
      val (optMsgs, _) = c.drain()
      assert(optMsgs.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "COPY 1" })
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_copy_t")
    }
  }

  /** A COPY batch is sized by its bytes (`Engine.filesFor`), not by the
    * cores: a wire-sized batch lands one parquet file. */
  test("a 2,000-row COPY FROM STDIN batch adds exactly one parquet file") {
    spark.sql("DROP TABLE IF EXISTS wire_copy_files_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_copy_files_t (id int, name varchar(16))")
      c.drain()
      val loc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("wire_copy_files_t")).location)
      def files = Option(loc.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
      def batch(from: Int): Unit = {
        c.query("COPY wire_copy_files_t FROM STDIN")
        assert(c.read()._1 == 'G')
        c.copyData((from until from + 2000).map(i => s"$i,name$i\n").mkString)
        c.copyDone()
        val (msgs, _) = c.drain()
        assert(msgs.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "COPY 2000" },
          s"err: ${c.errFields(msgs)}")
      }
      batch(0)
      assert(files == 1, s"first batch wrote $files files")
      batch(2000)
      assert(files == 2, s"two batches wrote $files files")
      c.query("SELECT COUNT(*), COUNT(DISTINCT id) FROM wire_copy_files_t")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("4000", "4000")))
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_copy_files_t")
    }
  }

  test("COPY TO STDOUT streams the table back through the copy-out sub-protocol") {
    spark.sql("DROP TABLE IF EXISTS wire_copyout_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_copyout_t (id int, name varchar(16))")
      c.drain()
      c.query("COPY wire_copyout_t FROM STDIN")
      assert(c.read()._1 == 'G')
      c.copyData("1,alpha\n2,beta\n3,gamma\n")
      c.copyDone(); c.drain()

      // copy-out: CopyOutResponse header, CopyData lines, CopyDone,
      // CommandComplete COPY n
      c.query("COPY wire_copyout_t TO STDOUT")
      val (h, hb) = c.read()
      assert(h == 'H')
      assert(hb(0) == 0 && (((hb(1) & 0xff) << 8) | (hb(2) & 0xff)) == 2)
      val (msgs, _) = c.drain()
      val lines = msgs.collect { case ('d', b) => new String(b, UTF_8) }
        .mkString.split("\n").toSeq.sorted
      assert(lines == Seq("1,alpha", "2,beta", "3,gamma"))
      assert(msgs.exists(_._1 == 'c'))
      assert(msgs.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "COPY 3" })

      // the dumped dialect re-loads through the copy-in channel:
      // delimiter option flows through the same copy.rs grammar
      c.query("COPY wire_copyout_t TO STDOUT USING DELIMITERS '|'")
      assert(c.read()._1 == 'H')
      val (pmsgs, _) = c.drain()
      val plines = pmsgs.collect { case ('d', b) => new String(b, UTF_8) }
        .mkString.split("\n").toSeq.sorted
      assert(plines == Seq("1|alpha", "2|beta", "3|gamma"))

      // a missing relation errors without wedging the session
      c.query("COPY wire_copyout_missing TO STDOUT")
      val (errMsgs, _) = c.drain()
      assert(c.errFields(errMsgs).contains('C'))
      c.query("SELECT 1 AS one")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("1")))
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_copyout_t")
    }
  }

  test("extended protocol: Parse/Bind/Describe/Execute round-trips with parameters") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()

      // named prepared statement with an int8 parameter
      c.parse("s1", "SELECT n_name FROM nation WHERE n_nationkey = $1", Seq(20))
      c.bind("p1", "s1", Seq("3"))
      c.describe('P', "p1")
      c.executePortal("p1")
      c.sync()
      val (msgs, st) = c.drain()
      assert(msgs.map(_._1).containsSlice(Seq('1', '2', 'T', 'D', 'C')),
        s"tags: ${msgs.map(_._1)} err: ${c.errFields(msgs)}")
      assert(c.cstrAt(msgs.find(_._1 == 'T').get._2, 2) == "n_name")
      assert(c.dataRows(msgs) == Seq(Seq("NATION_3")))
      assert(st == 'I')

      // re-bind the SAME prepared statement with a different value
      c.bind("p2", "s1", Seq("1"))
      c.executePortal("p2")
      c.sync()
      val (msgs2, _) = c.drain()
      assert(c.dataRows(msgs2) == Seq(Seq("NATION_1")))

      // Describe the STATEMENT: ParameterDescription then RowDescription
      c.describe('S', "s1")
      c.sync()
      val (dMsgs, _) = c.drain()
      val pd = dMsgs.find(_._1 == 't').get._2
      assert((((pd(0) & 0xff) << 8) | (pd(1) & 0xff)) == 1) // one param
      assert(dMsgs.exists(_._1 == 'T'))

      // unnamed statement + portal, no params
      c.parse("", "SELECT COUNT(*) AS n FROM region")
      c.bind("", "", Nil)
      c.executePortal("")
      c.sync()
      val (uMsgs, _) = c.drain()
      assert(c.dataRows(uMsgs) == Seq(Seq("5")))

      // Close the named statement; further Bind on it errors (26000)
      // and error recovery skips until Sync
      c.closeStmt('S', "s1")
      c.bind("p3", "s1", Seq("2"))
      c.executePortal("p3") // must be skipped after the Bind error
      c.sync()
      val (eMsgs, _) = c.drain()
      assert(eMsgs.map(_._1).contains('3')) // CloseComplete
      assert(c.errFields(eMsgs)('C') == "26000")
      assert(!eMsgs.exists(_._1 == 'D'), "Execute after error must be skipped")

      // the session still serves simple queries afterwards
      c.query("SELECT 7 AS x")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("7")))
      c.terminate()
    } finally srv.close()
  }

  test("extended protocol: binary result formats round-trip per type") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()

      // one column per implemented binary send function
      c.parse("", "SELECT CAST(1234 AS SMALLINT) AS i2, 123456 AS i4, " +
        "CAST(9876543210 AS BIGINT) AS i8, CAST(1.5 AS FLOAT) AS f4, " +
        "CAST(-2.25 AS DOUBLE) AS f8, true AS b, X'DEADBEEF' AS by, " +
        "CAST(NULL AS INT) AS nil")
      c.bind("pb", "", Nil, resultFmts = Seq(1)) // one code = all columns
      c.describe('P', "pb")
      c.executePortal("pb")
      c.sync()
      val (msgs, _) = c.drain()
      assert(c.errFields(msgs).isEmpty, s"err: ${c.errFields(msgs)}")
      assert(c.rowDescFmts(msgs) == Seq(1, 1, 1, 1, 1, 1, 1, 1))
      val row = c.rawRows(msgs).head
      def be(n: Int, v: Long): Seq[Byte] =
        (n - 1 to 0 by -1).map(s => ((v >>> (8 * s)) & 0xff).toByte)
      assert(row(0).toSeq == be(2, 1234))
      assert(row(1).toSeq == be(4, 123456))
      assert(row(2).toSeq == be(8, 9876543210L))
      assert(row(3).toSeq == be(4, java.lang.Float.floatToIntBits(1.5f)))
      assert(row(4).toSeq == be(8, java.lang.Double.doubleToLongBits(-2.25)))
      assert(row(5).toSeq == Seq(1.toByte))
      assert(row(6).toSeq == Seq(0xde, 0xad, 0xbe, 0xef).map(_.toByte))
      assert(row(7) == null) // NULL is format-independent (-1 length)

      // mixed per-column codes: text name, binary key
      c.parse("s2", "SELECT n_name, n_nationkey FROM nation WHERE n_nationkey = 7")
      c.bind("pm", "s2", Nil, resultFmts = Seq(0, 1))
      c.executePortal("pm")
      c.sync()
      val (mMsgs, _) = c.drain()
      val mrow = c.rawRows(mMsgs).head
      assert(new String(mrow(0), UTF_8) == "NATION_7")
      assert(mrow(1).toSeq == be(4, 7))

      // no binary output function for varchar: 0A000 at Execute
      c.bind("pv", "s2", Nil, resultFmts = Seq(1, 1))
      c.executePortal("pv")
      c.sync()
      val (vMsgs, _) = c.drain()
      assert(c.errFields(vMsgs)('C') == "0A000")

      // session healthy afterwards
      c.query("SELECT 7 AS x")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("7")))
      c.terminate()
    } finally srv.close()
  }

  test("extended protocol: binary-format bind parameters decode per declared oid") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      def be(n: Int, v: Long): Array[Byte] =
        (n - 1 to 0 by -1).map(s => ((v >>> (8 * s)) & 0xff).toByte).toArray

      // int8 param in binary == the text-bound twin
      c.parse("sb", "SELECT n_name FROM nation WHERE n_nationkey = $1", Seq(20))
      c.bindRaw("pb", "sb", Seq(be(8, 3L)), paramFmts = Seq(1))
      c.executePortal("pb")
      c.sync()
      val (m1, _) = c.drain()
      assert(c.errFields(m1).isEmpty, s"err: ${c.errFields(m1)}")
      assert(c.dataRows(m1) == Seq(Seq("NATION_3")))

      // float8 + bool binary params flow through expression params
      c.parse("sf", "SELECT $1 + 1.0 AS x, NOT $2 AS y", Seq(701, 16))
      c.bindRaw("pf", "sf",
        Seq(be(8, java.lang.Double.doubleToLongBits(2.5)), Array[Byte](1)),
        paramFmts = Seq(1, 1))
      c.executePortal("pf")
      c.sync()
      val (m2, _) = c.drain()
      assert(c.dataRows(m2) == Seq(Seq("3.5", "f")))

      // binary param without a declared oid is untypable: 0A000
      c.parse("sn", "SELECT $1 AS v")
      c.bindRaw("pn", "sn", Seq(be(4, 7)), paramFmts = Seq(1))
      c.sync()
      val (m3, _) = c.drain()
      assert(c.errFields(m3)('C') == "0A000")

      c.query("SELECT 7 AS x")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("7")))
      c.terminate()
    } finally srv.close()
  }

  test("extended protocol: Execute maxRows suspends and resumes the portal") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()

      // 5-row portal fetched 2 at a time: D D s | D D s | D C
      c.parse("", "SELECT r_name FROM region ORDER BY r_regionkey")
      c.bind("p", "", Nil)
      c.executePortal("p", maxRows = 2)
      c.executePortal("p", maxRows = 2)
      c.executePortal("p", maxRows = 2)
      c.sync()
      val (msgs, st) = c.drain()
      assert(msgs.map(_._1) == Seq('1', '2', 'D', 'D', 's', 'D', 'D', 's', 'D', 'C'),
        s"tags: ${msgs.map(_._1)} err: ${c.errFields(msgs)}")
      assert(c.dataRows(msgs).flatten.size == 5)
      // completing Execute reports ITS row count (PG semantics)
      assert(c.cstrAt(msgs.last._2, 0) == "SELECT 1")
      assert(st == 'I')

      // Sync closed the cursor but not the portal: a fresh Execute
      // restarts from row 0 and runs to completion with maxRows=0
      c.executePortal("p")
      c.sync()
      val (again, _) = c.drain()
      assert(c.dataRows(again).flatten.size == 5)
      assert(c.cstrAt(again.last._2, 0) == "SELECT 5")

      // suspend, then Close the portal: re-Execute errors 34000 and
      // error recovery skips until Sync (existing recovery contract)
      c.executePortal("p", maxRows = 1)
      c.closeStmt('P', "p")
      c.executePortal("p")
      c.sync()
      val (closed, _) = c.drain()
      assert(closed.map(_._1).containsSlice(Seq('D', 's', '3')))
      assert(c.errFields(closed)('C') == "34000")

      // the session still serves simple queries afterwards
      c.query("SELECT 7 AS x")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("7")))
      c.terminate()
    } finally srv.close()
  }

  test("real table query flows through the engine and renders text rows") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 2")
      val (msgs, _) = c.drain()
      assert(c.dataRows(msgs).length == 2)
      assert(c.dataRows(msgs).forall(_.head.nonEmpty))
      c.terminate()
    } finally srv.close()
  }

  test("index-served ANN lookup over the socket hash-matches the Scala path") {
    // the r17 verdict's last user-facing asymmetry: the reference's only
    // user surface is wire SQL, so the serving operators must be
    // reachable from a PG client. buildIndexes + install, then the TVF
    // over TCP must render EXACTLY the rows the Scala serving API returns
    graft.Serving.buildIndexes(spark, TestSpark.sf, "wsrv")
    graft.Serving.install(spark, "wsrv")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("SELECT * FROM graft_ann_topk(0, 10) ORDER BY sim DESC, nid")
      val (msgs, _) = c.drain()
      val wireRows = c.dataRows(msgs).map(_.mkString("|"))
      val model = graft.Serving.readModel(spark, "wsrv_pqmodel")
      val e = spark.table("wsrv_emb")
      val q = e.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
        .selectExpr("vec_id AS qid", "embedding AS qv")
      val scalaRows = graft.operators.VectorSearch
        .ivfPqTopKIndexed(spark.table("wsrv_ivf"), e, q,
          model.copy(rerank = math.max(model.rerank, 10)), 10)
        .orderBy(org.apache.spark.sql.functions.col("sim").desc,
          org.apache.spark.sql.functions.col("nid"))
        .collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getDouble(2)}")
      assert(wireRows.length == 10)
      assert(wireRows == scalaRows.toSeq,
        s"wire=$wireRows scala=${scalaRows.toSeq}")

      // hybrid RRF over the socket too — the composed serving path
      c.query("SELECT * FROM graft_hybrid_topk(0, 'scan hash merge', 20)")
      val (hm, _) = c.drain()
      assert(c.dataRows(hm).length == 10)
      c.terminate()
    } finally srv.close()
  }

  test("a serving call with k < 1 errors 22023 and the connection keeps serving") {
    // the argument check runs before any index table is read
    graft.Serving.install(spark, "wsrk")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("SELECT * FROM graft_ann_topk(0, 0)")
      val (bad, st) = c.drain()
      val err = c.errFields(bad)
      assert(err('C') == "22023")
      assert(err('M').contains("graft_ann_topk") && err('M').contains("k must be"),
        err('M'))
      assert(st == 'I')
      c.query("SELECT * FROM graft_hybrid_topk(0, 'scan', -2)")
      assert(c.errFields(c.drain()._1)('C') == "22023")
      c.query("SELECT 7 AS x")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("7")))
      c.terminate()
    } finally srv.close()
  }

  /** JDBC and libpq-param clients bind the serving functions' arguments:
    * a bound call answers the rows of the literal call, whatever the
    * values' format or declared type, and k < 1 is still 22023. */
  test("the serving table functions accept bound parameters") {
    graft.Serving.buildIndexes(spark, TestSpark.sf, "wsrv")
    graft.Serving.install(spark, "wsrv")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      def simple(q: String): Seq[Seq[String]] = {
        c.query(q)
        val (msgs, _) = c.drain()
        assert(c.errFields(msgs).isEmpty, c.errFields(msgs))
        c.dataRows(msgs)
      }
      def bound(q: String, oids: Seq[Int], params: Seq[Array[Byte]],
          fmts: Seq[Int]): Seq[(Char, Array[Byte])] = {
        c.parse("", q, oids)
        c.bindRaw("", "", params, fmts)
        c.executePortal("")
        c.sync()
        c.drain()._1
      }
      def rows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[String]] = {
        assert(c.errFields(msgs).isEmpty, c.errFields(msgs))
        c.dataRows(msgs)
      }
      def text(vs: String*) = vs.map(_.getBytes(UTF_8))
      def be(n: Int, v: Long): Array[Byte] =
        (0 until n).map(i => (v >> (8 * (n - 1 - i))).toByte).toArray
      val annQ = "SELECT * FROM graft_ann_topk(%s, %s) ORDER BY sim DESC, nid"
      val ann = simple(annQ.format("0", "5"))
      assert(ann.length == 5)
      // text values with unspecified (0) oids
      assert(rows(bound(annQ.format("$1", "$2"), Nil, text("0", "5"), Nil)) == ann)
      // int8 / int4 values in binary format
      assert(rows(bound(annQ.format("$1", "$2"), Seq(20, 23),
        Seq(be(8, 0L), be(4, 5L)), Seq(1))) == ann)
      // a text-typed terms argument
      val bmQ = "SELECT * FROM graft_bm25_topk(%s, 5) ORDER BY bm25 DESC, doc_id"
      val bm = simple(bmQ.format("'scan hash merge'"))
      assert(bm.nonEmpty)
      assert(rows(bound(bmQ.format("$1"), Seq(25), text("scan hash merge"), Nil)) == bm)
      // a bound k < 1 is still 22023, and the connection keeps serving
      val err = c.errFields(bound(annQ.format("$1", "$2"), Nil, text("0", "0"), Nil))
      assert(err('C') == "22023" && err('M').contains("k must be"), err)
      assert(simple("SELECT 7 AS x") == Seq(Seq("7")))
      c.terminate()
    } finally srv.close()
  }

  /** The aborted-block gate holds on every path: simple-Query COPY never
    * opens a copy channel, and an extended-protocol statement is
    * rejected at Bind (PG's exec_bind_message) before it runs. */
  test("an aborted block rejects COPY STDIN/STDOUT before the copy response") {
    spark.sql("DROP TABLE IF EXISTS wire_abort_copy_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_abort_copy_t (id int, name varchar(16))")
      c.drain()
      c.query("COPY wire_abort_copy_t FROM STDIN")
      assert(c.read()._1 == 'G')
      c.copyData("1,alpha\n")
      c.copyDone(); c.drain()

      c.query("BEGIN"); c.drain()
      c.query("SELECT * FROM no_such_table_qq")
      assert(c.drain()._2 == 'E')
      c.query("COPY wire_abort_copy_t FROM STDIN")
      val (in, inSt) = c.drain()
      assert(c.errFields(in)('C') == "25P02", s"tags: ${in.map(_._1)}")
      assert(!in.exists(_._1 == 'G'))
      assert(inSt == 'E')
      c.query("COPY wire_abort_copy_t TO STDOUT")
      val (out, outSt) = c.drain()
      assert(c.errFields(out)('C') == "25P02", s"tags: ${out.map(_._1)}")
      assert(!out.exists(m => m._1 == 'H' || m._1 == 'd'))
      assert(outSt == 'E')
      c.query("ROLLBACK"); c.drain()
      c.query("SELECT COUNT(*) AS n FROM wire_abort_copy_t")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("1")))
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_abort_copy_t")
    }
  }

  test("an aborted block rejects a parameterized Bind with 25P02 and runs no job") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup()
      val sid = c.sessionId(c.drain()._1)
      c.query("BEGIN"); c.drain()
      c.query("SELECT * FROM no_such_table_qq"); c.drain()
      val jobs = JobCounter(spark, JobCounter.inGroup(s"graft-wire-$sid"))
      try {
        c.parse("", "SELECT n_name FROM nation WHERE n_nationkey = $1", Seq(20))
        c.bind("", "", Seq("3"))
        c.executePortal("")
        c.sync()
        val (msgs, st) = c.drain()
        assert(c.errFields(msgs)('C') == "25P02", s"tags: ${msgs.map(_._1)}")
        assert(!msgs.exists(_._1 == 'D'), "the rejected statement must not run")
        assert(st == 'E')
        assert(jobs.drained() == 0)
      } finally jobs.close()
      c.query("ROLLBACK"); c.drain()
      c.parse("", "SELECT n_name FROM nation WHERE n_nationkey = $1", Seq(20))
      c.bind("", "", Seq("3"))
      c.executePortal("")
      c.sync()
      assert(c.dataRows(c.drain()._1) == Seq(Seq("NATION_3")))
      c.terminate()
    } finally srv.close()
  }

  /** Bind plans the portal once and Describe reads that plan: a table
    * function whose builder looks its query vector up on the driver
    * runs that lookup once per call, in the connection's job group. */
  test("a warm extended serving call starts the jobs of a simple Query, all in the wire group") {
    graft.Serving.buildIndexes(spark, TestSpark.sf, "wsrv")
    graft.Serving.install(spark, "wsrv")
    val q = "SELECT * FROM graft_ann_topk(0, 5)"
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup()
      val sid = c.sessionId(c.drain()._1)
      def simple(): Unit = {
        c.query(q)
        val (msgs, _) = c.drain()
        assert(c.dataRows(msgs).length == 5, s"err: ${c.errFields(msgs)}")
      }
      def extended(): Unit = {
        c.parse("", q)
        c.bind("", "", Nil)
        c.describe('P', "")
        c.executePortal("")
        c.sync()
        val (msgs, _) = c.drain()
        assert(msgs.map(_._1).containsSlice(Seq('1', '2', 'T', 'D')),
          s"tags: ${msgs.map(_._1)} err: ${c.errFields(msgs)}")
        assert(c.dataRows(msgs).length == 5)
      }
      /** (jobs outside every wire group, jobs in this connection's group) */
      def jobs(body: => Unit): (Int, Int) = {
        val outside = JobCounter(spark, p =>
          !Option(p.getProperty("spark.jobGroup.id")).exists(_.startsWith("graft-wire-")))
        val mine = JobCounter(spark, JobCounter.inGroup(s"graft-wire-$sid"))
        try { body; (outside.drained(), mine.drained()) }
        finally { outside.close(); mine.close() }
      }
      simple(); extended() // warm
      val (simpleOutside, simpleJobs) = jobs(simple())
      val (extOutside, extJobs) = jobs(extended())
      assert(simpleOutside == 0 && extOutside == 0,
        s"jobs outside the wire group: simple $simpleOutside, extended $extOutside")
      assert(simpleJobs > 0)
      assert(extJobs == simpleJobs, s"extended $extJobs jobs vs simple $simpleJobs")
      c.terminate()
    } finally srv.close()
  }

  test("Parse/Bind/Execute drives COPY FROM STDIN and COPY TO STDOUT like Query") {
    spark.sql("DROP TABLE IF EXISTS wire_ext_copy_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_ext_copy_t (id int, name varchar(16))")
      c.drain()

      // libpq sends Sync right behind Execute; copy-in ignores it
      c.parse("", "COPY wire_ext_copy_t FROM STDIN")
      c.bind("", "", Nil)
      c.executePortal("")
      c.sync()
      assert(c.read()._1 == '1')
      assert(c.read()._1 == '2')
      val (g, gb) = c.read()
      assert(g == 'G', s"got $g: ${c.errFields(Seq(g -> gb))}")
      assert(gb(0) == 0 && (((gb(1) & 0xff) << 8) | (gb(2) & 0xff)) == 2)
      c.copyData("1,alpha\n2,")
      c.copyData("beta\n")
      c.copyDone()
      c.sync()
      val (in, inSt) = c.drain()
      assert(in.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "COPY 2" },
        s"tags: ${in.map(_._1)} err: ${c.errFields(in)}")
      assert(inSt == 'I')

      c.parse("", "COPY wire_ext_copy_t TO STDOUT")
      c.bind("", "", Nil)
      c.describe('P', "")
      c.executePortal("")
      c.sync()
      val (out, _) = c.drain()
      assert(out.map(_._1).take(4) == Seq('1', '2', 'n', 'H'),
        s"tags: ${out.map(_._1)} err: ${c.errFields(out)}")
      val lines = out.collect { case ('d', b) => new String(b, UTF_8) }
        .mkString.split("\n").toSeq.sorted
      assert(lines == Seq("1,alpha", "2,beta"))
      assert(out.exists(_._1 == 'c'))
      assert(out.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "COPY 2" })

      // a CopyFail ends the extended statement with 57014; error
      // recovery skips to Sync and the session keeps serving
      c.parse("", "COPY wire_ext_copy_t FROM STDIN")
      c.bind("", "", Nil)
      c.executePortal("")
      c.flushMsg()
      assert(c.read()._1 == '1' && c.read()._1 == '2' && c.read()._1 == 'G')
      c.copyData("9,never\n")
      c.copyFail("client changed its mind")
      c.executePortal("") // skipped: recovery discards until Sync
      c.sync()
      val (fail, _) = c.drain()
      assert(c.errFields(fail)('C') == "57014")
      c.query("SELECT COUNT(*) AS n FROM wire_ext_copy_t")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("2")))
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_ext_copy_t")
    }
  }

  /** A portal survives Sync, so one bound before its block aborted is
    * gated again at Execute (PG's exec_execute_message): only a portal
    * that ends the block runs. */
  test("Execute rejects a portal bound before its block aborted, but runs ROLLBACK") {
    spark.sql("DROP TABLE IF EXISTS wire_abort_portal_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_abort_portal_t (id int, name varchar(16))")
      c.drain()
      c.query("BEGIN"); c.drain()
      c.parse("", "SELECT COUNT(*) AS n FROM region")
      c.bind("ps", "", Nil)
      c.parse("", "COPY wire_abort_portal_t FROM STDIN")
      c.bind("pc", "", Nil)
      c.parse("", "ROLLBACK")
      c.bind("pr", "", Nil)
      c.sync()
      val (bound, boundSt) = c.drain()
      assert(bound.map(_._1) == Seq('1', '2', '1', '2', '1', '2'),
        s"tags: ${bound.map(_._1)} err: ${c.errFields(bound)}")
      assert(boundSt == 'T')
      c.query("SELECT * FROM no_such_table_qq")
      assert(c.drain()._2 == 'E')
      for (portal <- Seq("ps", "pc")) {
        c.executePortal(portal)
        c.sync()
        val (msgs, st) = c.drain()
        assert(c.errFields(msgs)('C') == "25P02", s"$portal tags: ${msgs.map(_._1)}")
        assert(!msgs.exists(m => m._1 == 'D' || m._1 == 'G'), s"$portal ran")
        assert(st == 'E')
      }
      c.executePortal("pr")
      c.sync()
      val (rb, rbSt) = c.drain()
      assert(rb.exists { case (t, b) => t == 'C' && c.cstrAt(b, 0) == "ROLLBACK" },
        s"tags: ${rb.map(_._1)} err: ${c.errFields(rb)}")
      assert(rbSt == 'I')
      c.query("SELECT COUNT(*) AS n FROM wire_abort_portal_t")
      assert(c.dataRows(c.drain()._1) == Seq(Seq("0")))
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_abort_portal_t")
    }
  }

  /** Describe of a prepared statement plans it with NULL values; a
    * statement that cannot be planned so describes as NoData and neither
    * fails nor aborts the block. */
  test("Describe of a statement that NULL values cannot plan answers NoData in an open block") {
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("BEGIN"); c.drain()
      c.parse("sl", "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT $1", Seq(23))
      c.describe('S', "sl")
      c.sync()
      val (lim, limSt) = c.drain()
      assert(lim.map(_._1) == Seq('1', 't', 'n'),
        s"tags: ${lim.map(_._1)} err: ${c.errFields(lim)}")
      assert(limSt == 'T')
      // `$n` with no declared oid is still a parameter, not a parse error
      c.parse("sn", "SELECT n_name FROM nation WHERE n_nationkey = $1")
      c.describe('S', "sn")
      c.sync()
      val (eq, eqSt) = c.drain()
      assert(eq.map(_._1) == Seq('1', 't', 'T'),
        s"tags: ${eq.map(_._1)} err: ${c.errFields(eq)}")
      assert(c.cstrAt(eq.find(_._1 == 'T').get._2, 2) == "n_name")
      assert(eqSt == 'T')
      c.bind("pl", "sl", Seq("2"))
      c.executePortal("pl")
      c.sync()
      val (rows, rowsSt) = c.drain()
      assert(c.dataRows(rows) == Seq(Seq("NATION_0"), Seq("NATION_1")),
        s"tags: ${rows.map(_._1)} err: ${c.errFields(rows)}")
      assert(rowsSt == 'T')
      c.query("COMMIT"); c.drain()
      c.terminate()
    } finally srv.close()
  }

  /** Bind plans a Spark command without running it: the command runs at
    * Execute, once, and a portal closed unexecuted leaves no trace. */
  test("a bound INSERT runs at Execute only, once") {
    spark.sql("DROP TABLE IF EXISTS wire_lazy_insert_t")
    val srv = new WireServer(spark, Some(TestSpark.sf)).start()
    try {
      val c = new Client(srv.boundPort)
      c.startup(); c.drain()
      c.query("CREATE TABLE wire_lazy_insert_t (id int)")
      c.drain()
      def count(): String = {
        c.query("SELECT COUNT(*) AS n FROM wire_lazy_insert_t")
        c.dataRows(c.drain()._1).head.head
      }
      c.parse("si", "INSERT INTO wire_lazy_insert_t VALUES (1)")
      c.describe('S', "si")
      c.bind("pi", "si", Nil)
      c.describe('P', "pi")
      c.closeStmt('P', "pi")
      c.sync()
      val (closed, _) = c.drain()
      assert(closed.map(_._1) == Seq('1', 't', 'n', '2', 'n', '3'),
        s"tags: ${closed.map(_._1)} err: ${c.errFields(closed)}")
      assert(count() == "0")
      c.bind("pi", "si", Nil)
      c.describe('P', "pi")
      c.executePortal("pi")
      c.sync()
      val (ran, _) = c.drain()
      assert(c.errFields(ran).isEmpty, s"err: ${c.errFields(ran)}")
      assert(count() == "1")
      c.terminate()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS wire_lazy_insert_t")
    }
  }
}
