package graft.wire

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Catalog, Errors, GraftArgError, GraftSession, GraftStateError}
import graft.GraftSession.Outcome

/** PostgreSQL v3 wire-protocol front-end over [[GraftSession]] — the
  * reference's remote entry point re-expressed for the Spark engine
  * (protocol: reference src/protocol.rs:1-497; session loop
  * src/lib.rs:289-375 `do_postgres_main`; thread-per-connection accept
  * src/bin/kuiba/main.rs:50-57).
  *
  * Surface: startup handshake (SSLRequest -> 'N', CancelRequest ->
  * job-group cancel, StartupMessage with required `user` param) ->
  * AuthenticationOk -> ParameterStatus report -> BackendKeyData ->
  * ReadyForQuery loop over simple Query ('Q'), the extended protocol
  * (Parse/Bind/Describe/Execute/Close/Flush/Sync) and Terminate ('X'),
  * with the COPY FROM STDIN / TO STDOUT sub-protocols. Every statement
  * takes one path: [[GraftSession.plan]] gates, matches and plans it
  * once — per statement for Query, once per portal at Bind (Describe
  * reads that plan's schema) — and one routine runs the outcome for
  * both Query and Execute, gated again by [[GraftSession.admit]].
  * Describe of a prepared statement plans it with NULL values through
  * [[GraftSession.describe]]. Every Spark job of a connection runs in its
  * `graft-wire-<sid>` job group. Results render in text format via the
  * engine's PG output conventions (bool t/f, bytea \x hex — PgFunctions
  * renderers) or in binary where Bind asks for it, with type oids from
  * the kb_type bootstrap (Catalog.typeOid).
  *
  * Scale note: the wire server is a control-plane veneer — each Query
  * executes as a normal distributed Spark job; only the (client-bound)
  * result rows flow through the socket. `maxRows` caps the collect so a
  * SELECT over a 100 TB table cannot OOM the driver serving the socket.
  */
class WireServer(spark: SparkSession, dataDir: Option[String] = None,
    port: Int = 0, maxRows: Int = 100000) {

  private val server = new ServerSocket(port)
  @volatile private var running = true
  private val sessionCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Cancel map: session id -> secret key from BackendKeyData (the
    * reference's cancelmap, lib.rs:318-321 insert_cancel_map). A
    * CancelRequest carrying a matching (sid, key) cancels that
    * session's in-flight Spark jobs via its job group. */
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def cancelKeyOf(sid: Int): Int =
    (graft.functions.GraftHash.splitmix64(sid.toLong) & 0x7fffffffL).toInt
  private def jobGroupOf(sid: Int): String = s"graft-wire-$sid"

  /** The actual bound port (ephemeral when constructed with 0). */
  def boundPort: Int = server.getLocalPort

  private val acceptThread = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val sid = sessionCounter.incrementAndGet()
        val t = new Thread(() => handleConnection(sock, sid),
          s"graft-wire-conn-$sid")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => // closed during accept -> exit loop
        case _: Exception if !running =>
      }
    }
  }, "graft-wire-accept")
  acceptThread.setDaemon(true)

  def start(): WireServer = { acceptThread.start(); this }

  def close(): Unit = {
    running = false
    server.close()
  }

  // ---------------------------------------------------------------- wire io

  private final val ProtoV3 = 196608 // 3.0
  private final val SslRequestCode = 80877103
  private final val CancelRequestCode = 80877102

  private def cstr(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    java.util.Arrays.copyOf(b, b.length + 1) // trailing NUL
  }

  /** Typed message: tag byte + int32(len incl itself) + body. */
  private def send(out: DataOutputStream, tag: Char, body: Array[Byte]*): Unit = {
    out.writeByte(tag)
    out.writeInt(4 + body.map(_.length).sum)
    body.foreach(out.write)
  }

  private def i32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def i16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def readBody(in: DataInputStream): Array[Byte] = {
    val len = in.readInt()
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    body
  }

  private def readCstr(b: Array[Byte], pos: Int): (String, Int) = {
    val end = b.indexOf(0: Byte, pos)
    (new String(b, pos, end - pos, UTF_8), end + 1)
  }

  // ------------------------------------------------------------- handshake

  private def handleConnection(sock: Socket, sid: Int): Unit = {
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

      var body = readBody(in)
      var code = ((body(0) & 0xff) << 24) | ((body(1) & 0xff) << 16) |
        ((body(2) & 0xff) << 8) | (body(3) & 0xff)
      if (code == CancelRequestCode) {
        // (sid, key) follow the code (protocol.rs:47-63); a valid pair
        // cancels the target session's in-flight jobs (the reference's
        // handle_cancel_request + termreq path), then the cancel
        // connection closes without a response, per protocol
        val tsid = ((body(4) & 0xff) << 24) | ((body(5) & 0xff) << 16) |
          ((body(6) & 0xff) << 8) | (body(7) & 0xff)
        val tkey = ((body(8) & 0xff) << 24) | ((body(9) & 0xff) << 16) |
          ((body(10) & 0xff) << 8) | (body(11) & 0xff)
        if (cancelKeys.getOrDefault(tsid, tkey + 1) == tkey)
          spark.sparkContext.cancelJobGroup(jobGroupOf(tsid))
        sock.close(); return
      }
      if (code == SslRequestCode) { // NOSSL, then the real startup (lib.rs:304-309)
        out.writeByte('N'); out.flush()
        body = readBody(in)
        code = ((body(0) & 0xff) << 24) | ((body(1) & 0xff) << 16) |
          ((body(2) & 0xff) << 8) | (body(3) & 0xff)
      }
      if (code != ProtoV3)
        throw new IllegalArgumentException(s"unsupported protocol version $code")
      // startup params: cstr pairs until empty name (protocol.rs:133-156)
      val params = scala.collection.mutable.Map[String, String]()
      var pos = 4
      var done = false
      while (!done) {
        val (name, p1) = readCstr(body, pos)
        if (name.isEmpty) done = true
        else { val (value, p2) = readCstr(body, p1); params(name) = value; pos = p2 }
      }
      if (!params.contains("user"))
        throw new IllegalArgumentException("StartupMessage: no user key")

      // the connection thread is dedicated, so every Spark job it starts
      // — at Bind, Describe, Execute or Query, and the catalog views
      // below — runs in its one group, which a CancelRequest cancels
      spark.sparkContext.setJobGroup(jobGroupOf(sid), s"wire session $sid",
        interruptOnCancel = true)
      val sess = new GraftSession(spark, dataDir)
      // AuthenticationOk (trust auth, like the reference)
      send(out, 'R', i32(0))
      // ParameterStatus: exactly the REPORT-flagged GUC set with the
      // session's values (protocol.rs:398-402 report_all_gucs ->
      // report_guc's should_report filter)
      for ((k, v) <- sess.reportGucs)
        send(out, 'S', cstr(k), cstr(v))
      // BackendKeyData: session id + cancel key (lib.rs:318-321)
      cancelKeys.put(sid, cancelKeyOf(sid))
      send(out, 'K', i32(sid), i32(cancelKeyOf(sid)))

      queryLoop(in, out, sess)
    } catch {
      case _: EOFException | _: SocketException => // client went away
      case _: Exception if !running =>
    } finally {
      cancelKeys.remove(sid)
      try sock.close() catch { case _: Exception => }
    }
  }

  // ------------------------------------------------------------ query loop

  private def txStatus(sess: GraftSession): Byte = sess.transactionState match {
    case "in_transaction" => 'T'
    case "failed_transaction" => 'E'
    case _ => 'I'
  }

  /** `$n` positional markers -> Spark named parameters `:pn`, skipping
    * single-quoted literal spans; also returns the names written. */
  private def translateParams(q: String): (String, Set[String]) = {
    val sb = new StringBuilder
    val names = Set.newBuilder[String]
    var i = 0
    var inQuote = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') { inQuote = !inQuote; sb.append(c); i += 1 }
      else if (!inQuote && c == '$' && i + 1 < q.length && q.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < q.length && q.charAt(j).isDigit) j += 1
        // NB: sb.append(q, i+1, j) auto-tuples into append(Any) — scala
        // StringBuilder has no (CharSequence, from, to) overload
        sb.append(":p").append(q.substring(i + 1, j))
        names += "p" + q.substring(i + 1, j)
        i = j
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, names.result())
  }

  /** Text-format bind value -> typed Scala value by declared oid; oid 0
    * (unspecified) binds as text and relies on ANSI coercion. */
  /** Binary-format Bind parameter (format code 1): the PG binary recv
    * encodings of the fixed-width types + bytea, decoded to the SAME
    * JVM types the text path produces so the engine sees one typing
    * regardless of wire format. A binary param needs its declared oid
    * — without one the bytes are untypable (0A000, as PG errors). */
  private def binaryParam(b: Array[Byte], pos: Int, len: Int, oid: Int): Any = {
    def need(n: Int): Unit =
      if (len != n) throw new GraftArgError(Errors.InvalidParameterValue,
        s"binary parameter for oid $oid must be $n bytes, got $len")
    oid match {
      case 21 => need(2); ((b(pos) & 0xff) << 8 | (b(pos + 1) & 0xff)).toShort.toInt
      case 23 => need(4); i32At(b, pos)
      case 20 => need(8); (i32At(b, pos).toLong << 32) | (i32At(b, pos + 4).toLong & 0xffffffffL)
      case 700 => need(4); java.lang.Float.intBitsToFloat(i32At(b, pos)).toDouble
      case 701 => need(8)
        java.lang.Double.longBitsToDouble(
          (i32At(b, pos).toLong << 32) | (i32At(b, pos + 4).toLong & 0xffffffffL))
      case 16 => need(1); b(pos) != 0
      case 17 => java.util.Arrays.copyOfRange(b, pos, pos + len)
      case other => throw new GraftArgError(Errors.FeatureNotSupported,
        s"no binary input function for parameter oid $other")
    }
  }

  private def typedParam(text: String, oid: Int): Any = oid match {
    case 21 | 23 => text.trim.toInt // int2, int4
    case 20 => text.trim.toLong // int8
    case 700 | 701 => text.trim.toDouble // float4/8
    case 16 => Set("t", "true", "on", "1", "yes")(text.trim.toLowerCase) // bool
    case _ => text // text/varchar/unspecified
  }

  private def i16At(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  private def i32At(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
      ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  private def queryLoop(in: DataInputStream, out: DataOutputStream,
      sess: GraftSession): Unit = {
    var alive = true
    // extended-protocol state: prepared statements (query text + declared
    // param oids) and bound portals (the statement planned once at Bind +
    // Bind's result format codes)
    val stmts = scala.collection.mutable.Map[String, (String, Seq[Int])]()
    val portals = scala.collection.mutable.Map[String, (Outcome, Seq[Int])]()
    // suspended-portal cursors (Execute with maxRows hit the cap): the
    // remaining text-rendered rows as a toLocalIterator — one partition
    // resident at a time, so a huge result never materializes server-side.
    // Dropped on re-Bind (portal replaced), Close, and Sync (autocommit
    // statement boundary = PG's transaction-end portal close).
    val suspended = scala.collection.mutable.Map[String,
      (Array[StructField], Array[Int], Iterator[org.apache.spark.sql.Row])]()
    var sendReady = true // ReadyForQuery after startup, Query, and Sync ONLY
    var skipTilSync = false // extended error recovery (protocol rule)

    /** Plan a statement with Bind's positional values: `$n` markers
      * become the named parameters `pn`. */
    def planWith(query: String, params: Seq[Any]): Outcome =
      if (params.isEmpty) sess.plan(query)
      else sess.plan(translateParams(query)._1,
        params.zipWithIndex.map { case (v, i) => s"p${i + 1}" -> v }.toMap)

    // Send up to `max` DataRows from a suspended cursor; PortalSuspended
    // ('s') if rows remain, else CommandComplete with THIS Execute's row
    // count (PG reports the rows processed by the completing Execute).
    def sendPortalRows(portal: String, fields: Array[StructField],
        fmts: Array[Int], it: Iterator[org.apache.spark.sql.Row],
        max: Int): Unit = {
      var n = 0
      while (n < max && it.hasNext) {
        sendDataRow(out, fields, fmts, it.next()); n += 1
      }
      if (it.hasNext) send(out, 's')
      else { suspended.remove(portal); send(out, 'C', cstr(s"SELECT $n")) }
    }

    /** Run one planned statement and send its result — the routine the
      * simple Query loop (`portal` None: RowDescription first, every row)
      * and Execute (Describe announced the rows; `fetchMax` > 0 opens a
      * cursor on the portal, or resumes the open one) share. The outcome
      * runs only if the block admits it now: a portal may have been
      * bound before its block aborted. */
    def respond(outcome: Outcome, resFmts: Seq[Int] = Nil,
        portal: Option[String] = None, fetchMax: Int = 0): Unit = {
      sess.admit(outcome)
      outcome match {
        case GraftSession.Utility(run, _) =>
          val tagValue = run()
          if (tagValue == GraftSession.EmptyQuery) send(out, 'I')
          else send(out, 'C', cstr(tagValue))
        case GraftSession.CopyChannel(rel, schema, opts, true) =>
          handleCopyIn(in, out, sess, rel, schema, opts)
        case GraftSession.CopyChannel(rel, schema, opts, false) =>
          handleCopyOut(out, sess, rel, schema, opts)
        case GraftSession.Rows(_, _) if portal.exists(suspended.contains) =>
          val (fields, fmts, it) = suspended(portal.get) // 0 = no limit
          sendPortalRows(portal.get, fields, fmts, it,
            if (fetchMax <= 0) Int.MaxValue else fetchMax)
        case GraftSession.Rows(_, plan) =>
          val df = plan()
          val fmts = resolveFmts(resFmts, df.schema.fields)
          val (fields, rendered) = renderWire(df, fmts)
          if (portal.isEmpty) sendRowDescription(out, fields, fmts)
          // the server-side cap holds on every path
          val capped = rendered.limit(maxRows)
          portal match {
            case Some(p) if fetchMax > 0 => // one partition resident at a time
              val it = scala.jdk.CollectionConverters
                .IteratorHasAsScala(capped.toLocalIterator()).asScala
              suspended(p) = (fields, fmts, it)
              sendPortalRows(p, fields, fmts, it, fetchMax)
            case _ =>
              val rows = capped.collect()
              rows.foreach(sendDataRow(out, fields, fmts, _))
              send(out, 'C', cstr(s"SELECT ${rows.length}"))
          }
      }
    }

    // a failed statement aborts a transaction block whether it failed
    // while planned or while run (lib.rs:468-473)
    def reportError(e: Exception): Unit = {
      sess.onStatementError()
      sendError(out, sqlStateOf(e),
        Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }

    while (alive && running) {
      if (sendReady) {
        send(out, 'Z', Array(txStatus(sess)))
        out.flush()
        sendReady = false
      }
      val msgType = in.read()
      if (msgType == -1 || msgType == 'X') { alive = false }
      else {
        val body = readBody(in)
        if (skipTilSync) {
          // after an extended-mode error, discard until Sync (protocol)
          if (msgType == 'S') {
            skipTilSync = false; sendReady = true; suspended.clear()
          }
        } else if (msgType == 'Q') {
          val (query, _) = readCstr(body, 0)
          // PG simple-protocol contract (and what psql -c sends): the
          // Query string may hold SEVERAL statements — execute each in
          // order, one result per statement, ONE ReadyForQuery at the
          // end; the first error discards the rest of the string. An
          // all-empty string answers EmptyQueryResponse ('I').
          val statements = graft.GraftSession.splitStatements(query)
          if (statements.isEmpty) send(out, 'I')
          else {
            val it = statements.iterator
            var failed = false
            while (it.hasNext && !failed) {
              try respond(sess.plan(it.next()))
              catch { case e: Exception => reportError(e); failed = true }
            }
          }
          sendReady = true
        } else try {
          msgType match {
            case 'P' => // Parse: name, query, int16 n, n x int32 param oids
              val (name, p1) = readCstr(body, 0)
              val (query, p2) = readCstr(body, p1)
              val n = i16At(body, p2)
              val oids = (0 until n).map(k => i32At(body, p2 + 2 + 4 * k))
              stmts(name) = (query, oids)
              send(out, '1') // ParseComplete
            case 'B' => // Bind: portal, stmt, fmts, params, result fmts
              val (portal, p1) = readCstr(body, 0)
              val (stmt, p2) = readCstr(body, p1)
              // re-Bind replaces the portal and any open cursor
              portals.remove(portal); suspended.remove(portal)
              val (query, oids) = stmts.getOrElse(stmt,
                throw new GraftArgError("26000", // invalid_sql_statement_name
                  s"prepared statement \"$stmt\" does not exist"))
              val nFmt = i16At(body, p2)
              val fmts = (0 until nFmt).map(k => i16At(body, p2 + 2 + 2 * k))
              if (fmts.exists(f => f != 0 && f != 1))
                throw new GraftArgError(Errors.FeatureNotSupported,
                  "parameter format codes must be 0 (text) or 1 (binary)")
              var pos = p2 + 2 + 2 * nFmt
              val nParams = i16At(body, pos); pos += 2
              // per-param format (protocol rule: 0 codes = all text,
              // 1 code = every param, else one per param)
              def fmtOf(k: Int): Int =
                if (fmts.isEmpty) 0
                else if (fmts.length == 1) fmts.head
                else fmts(k)
              val params = (0 until nParams).map { k =>
                val len = i32At(body, pos); pos += 4
                if (len == -1) null
                else if (fmtOf(k) == 1) {
                  val v = binaryParam(body, pos, len, oids.lift(k).getOrElse(0))
                  pos += len
                  v
                } else {
                  val s = new String(body, pos, len, UTF_8); pos += len
                  typedParam(s, oids.lift(k).getOrElse(0))
                }
              }
              // RESULT format codes (after the params): 0 entries = all
              // text, 1 entry = every column, else per column; resolved
              // against the schema at Describe/Execute time
              val nRes = i16At(body, pos); pos += 2
              val resFmts = (0 until nRes).map(k => i16At(body, pos + 2 * k))
              if (resFmts.exists(f => f != 0 && f != 1))
                throw new GraftArgError(Errors.FeatureNotSupported,
                  "result format codes must be 0 (text) or 1 (binary)")
              // the portal's one plan: gated and analyzed here, as PG's
              // exec_bind_message checks the aborted block; a Spark
              // command (INSERT, DROP, ...) runs only at Execute
              portals(portal) = (planWith(query, params), resFmts)
              send(out, '2') // BindComplete
            case 'D' => // Describe: 'S' statement | 'P' portal
              val kind = body(0).toChar
              val (name, _) = readCstr(body, 1)
              val (schema, resFmts) = kind match {
                case 'S' =>
                  val (q, oids) = stmts.getOrElse(name,
                    throw new GraftArgError("26000",
                      s"prepared statement \"$name\" does not exist"))
                  // a statement has no values yet: plan it with a NULL
                  // for every declared or written parameter; one that
                  // cannot be planned so describes as NoData
                  val (text, written) = translateParams(q)
                  val nulls = ((1 to oids.length).map(i => s"p$i") ++ written)
                    .map(_ -> (null: Any)).toMap
                  // ParameterDescription: declared oids (0 = unspecified)
                  send(out, 't',
                    (i16(oids.length) +: oids.map(i32)).reduce(_ ++ _))
                  // formats are a Bind property, so Describe-statement
                  // always reports text (PG semantics)
                  (sess.describe(text, nulls), Seq.empty[Int])
                case _ =>
                  val (outcome, fmts) = portals.getOrElse(name,
                    throw new GraftArgError("34000", // invalid_cursor_name
                      s"portal \"$name\" does not exist"))
                  (Some(outcome).collect { case GraftSession.Rows(s, _) => s }, fmts)
              }
              schema match {
                case Some(s) if s.nonEmpty =>
                  sendRowDescription(out, s.fields, resolveFmts(resFmts, s.fields))
                case _ => send(out, 'n') // NoData
              }
            case 'E' => // Execute: portal, int32 maxRows. 0 = run to
              // CommandComplete; >0 = the cursor protocol: send up to
              // maxRows DataRows, then PortalSuspended; a re-Execute
              // resumes from the retained row iterator.
              val (portal, p1) = readCstr(body, 0)
              val fetchMax = i32At(body, p1)
              val (outcome, resFmts) = portals.getOrElse(portal,
                throw new GraftArgError("34000",
                  s"portal \"$portal\" does not exist"))
              respond(outcome, resFmts, Some(portal), fetchMax)
            case 'C' => // Close statement/portal: always succeeds
              val kind = body(0).toChar
              val (name, _) = readCstr(body, 1)
              if (kind == 'S') stmts.remove(name)
              else { portals.remove(name); suspended.remove(name) }
              send(out, '3') // CloseComplete
            case 'H' => out.flush() // Flush
            case 'S' => // Sync: statement boundary — open cursors close
              // (autocommit twin of PG's transaction-end portal drop)
              suspended.clear()
              sendReady = true
            case other =>
              sendError(out, "08P01",
                s"unexpected message type ${other.toChar}")
              sendReady = true
          }
          out.flush()
        } catch {
          case e: Exception =>
            reportError(e)
            out.flush()
            skipTilSync = true // extended-mode error recovery
        }
      }
    }
  }

  /** Copy-in sub-protocol for `COPY t FROM STDIN`: CopyInResponse ('G',
    * overall format 0 = text + per-column format 0) -> accumulate
    * CopyData ('d') payloads -> CopyDone ('c') parses and appends via
    * the session's COPY machinery and answers CommandComplete `COPY n`.
    * CopyFail ('f') fails the statement with the client's message (PG's
    * query_canceled code, 57014); Flush and Sync are ignored, as PG does
    * for clients that send them after an extended-protocol Execute; any
    * other message is a protocol violation (08P01). The reference parses
    * only file-path COPY (sql.lalrpop:560-572) but its DestRemote streams
    * results over this same protocol layer; this is the matching ingest
    * direction. */
  private def handleCopyIn(in: DataInputStream, out: DataOutputStream,
      sess: GraftSession, rel: String,
      schema: StructType, opts: graft.sources.Copy.Options): Unit = {
    val ncols = schema.length
    send(out, 'G', (Array(0.toByte) +: i16(ncols) +:
      Array.fill(ncols)(i16(0))).reduce(_ ++ _))
    out.flush()
    val buf = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      val tag = in.read()
      if (tag == -1) throw new EOFException("client left during copy-in")
      val body = readBody(in)
      tag match {
        case 'd' => buf.write(body)
        case 'c' =>
          val n = sess.copyInRows(rel, schema, opts,
            new String(buf.toByteArray, UTF_8))
          send(out, 'C', cstr(s"COPY $n"))
          done = true
        case 'H' | 'S' =>
        case 'f' =>
          throw new GraftStateError("57014",
            s"COPY from stdin failed: ${readCstr(body, 0)._1}")
        case other =>
          throw new GraftArgError("08P01",
            s"unexpected message type ${other.toChar} during COPY FROM STDIN")
      }
    }
  }

  /** Copy-out sub-protocol for `COPY t TO STDOUT`: CopyOutResponse
    * ('H', overall format 0 = text + per-column format 0), one CopyData
    * ('d') per line, CopyDone ('c'), then CommandComplete `COPY n` —
    * the symmetric direction of [[handleCopyIn]] and the closest
    * analogue of the reference's DestRemote result streaming. The line
    * dialect is file COPY's (Copy.toLines), so a dumped stream re-loads
    * through the copy-in channel unchanged. Rows arrive through
    * toLocalIterator, one partition resident at a time. */
  private def handleCopyOut(out: DataOutputStream, sess: GraftSession,
      rel: String, schema: StructType,
      opts: graft.sources.Copy.Options): Unit = {
    val ncols = schema.length
    send(out, 'H', (Array(0.toByte) +: i16(ncols) +:
      Array.fill(ncols)(i16(0))).reduce(_ ++ _))
    var n = 0L
    sess.copyOutLines(rel, opts).foreach { line =>
      send(out, 'd', (line + "\n").getBytes(UTF_8))
      n += 1
    }
    send(out, 'c')
    send(out, 'C', cstr(s"COPY ${n - (if (opts.header) 1 else 0)}"))
    out.flush()
  }

  /** SQLSTATE for ErrorResponse field 'C' (errcodes.rs scheme): session
    * errors carry their own code ([[graft.HasSqlState]]); Spark errors
    * carry one via SparkThrowable (e.g. 42P01 TABLE_OR_VIEW_NOT_FOUND,
    * 42601 PARSE_SYNTAX_ERROR); anything else is internal_error. */
  private def sqlStateOf(e: Exception): String = e match {
    case h: graft.HasSqlState => h.sqlstate
    case st: org.apache.spark.SparkThrowable if st.getSqlState != null =>
      st.getSqlState
    case _ => graft.Errors.InternalError
  }

  private def sendError(out: DataOutputStream, sqlstate: String, msg: String): Unit = {
    // ErrorResponse field list S/C/M + NUL terminator (protocol.rs:199-230)
    send(out, 'E',
      Array('S'.toByte) ++ cstr("ERROR"),
      Array('C'.toByte) ++ cstr(sqlstate),
      Array('M'.toByte) ++ cstr(msg),
      Array(0.toByte))
  }

  /** RowDescription: name, table oid 0, attnum 0, type oid, typlen,
    * typmod -1, format per column (0 text / 1 binary — the format the
    * DataRows will actually use). */
  private def sendRowDescription(out: DataOutputStream,
      fields: Array[StructField], fmts: Array[Int] = Array.empty): Unit =
    send(out, 'T', (i16(fields.length) +: fields.zipWithIndex.map {
      case (f, i) =>
        cstr(f.name) ++ i32(0) ++ i16(0) ++ i32(Catalog.typeOid(f.dataType)) ++
          i16(Catalog.typeLen(f.dataType)) ++ i32(-1) ++
          i16(if (i < fmts.length) fmts(i) else 0)
    }).reduce(_ ++ _))

  /** Resolve Bind's result-format list against a schema (protocol rule:
    * 0 entries = all text, 1 entry = every column, else one per column)
    * and reject binary for types without a binary send function here —
    * at Bind/Describe time, not mid-row-stream. */
  private def resolveFmts(resFmts: Seq[Int],
      fields: Array[StructField]): Array[Int] = {
    val fmts: Array[Int] =
      if (resFmts.isEmpty) Array.fill(fields.length)(0)
      else if (resFmts.length == 1) Array.fill(fields.length)(resFmts.head)
      else if (resFmts.length == fields.length) resFmts.toArray
      else throw new GraftArgError("08P01",
        s"bind message has ${resFmts.length} result formats but query has ${fields.length} columns")
    for ((f, i) <- fields.zipWithIndex)
      if (fmts(i) == 1 && !binarySendable(f.dataType))
        throw new GraftArgError(Errors.FeatureNotSupported,
          s"no binary output function for column \"${f.name}\" (${f.dataType.simpleString})")
    fmts
  }

  /** PG binary wire encodings implemented: the fixed-width scalar types
    * plus bytea (network byte order / IEEE-754 bits / raw bytes — the
    * formats every binary-protocol driver hardcodes). */
  private def binarySendable(dt: DataType): Boolean = dt match {
    case ShortType | IntegerType | LongType | FloatType | DoubleType |
        BooleanType | BinaryType => true
    case _ => false
  }

  private def binaryEncode(dt: DataType,
      row: org.apache.spark.sql.Row, i: Int): Array[Byte] = dt match {
    case ShortType => i16(row.getShort(i).toInt)
    case IntegerType => i32(row.getInt(i))
    case LongType =>
      val v = row.getLong(i)
      i32((v >>> 32).toInt) ++ i32(v.toInt)
    case FloatType => i32(java.lang.Float.floatToIntBits(row.getFloat(i)))
    case DoubleType =>
      val b = java.lang.Double.doubleToLongBits(row.getDouble(i))
      i32((b >>> 32).toInt) ++ i32(b.toInt)
    case BooleanType => Array[Byte](if (row.getBoolean(i)) 1 else 0)
    case BinaryType => row.getAs[Array[Byte]](i)
    case other => throw new GraftArgError(Errors.FeatureNotSupported,
      s"no binary output function for ${other.simpleString}")
  }

  /** Wire rendering, shared by the run-to-completion path and the
    * portal cursor path: text columns render via the engine's PG output
    * conventions (PgFunctions.pgBoolOut / \x-hex bytea; everything else
    * casts); binary-format columns (fmts(i)==1) stay RAW and are
    * encoded per row by [[binaryEncode]]. */
  private def renderWire(df: DataFrame,
      fmts: Array[Int]): (Array[StructField], DataFrame) = {
    val fields = df.schema.fields
    val rendered = df.select(fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"`${f.name}`")
      (if (i < fmts.length && fmts(i) == 1) c
       else f.dataType match {
        case BooleanType => when(c, lit("t")).otherwise(lit("f"))
        case BinaryType => concat(lit("\\x"), lower(hex(c)))
        case _ => c.cast(StringType)
      }).as(f.name)
    }.toIndexedSeq: _*)
    (fields, rendered)
  }

  private def sendDataRow(out: DataOutputStream, fields: Array[StructField],
      fmts: Array[Int], row: org.apache.spark.sql.Row): Unit = {
    val cols = (0 until fields.length).map { i =>
      if (row.isNullAt(i)) i32(-1)
      else {
        val b =
          if (i < fmts.length && fmts(i) == 1)
            binaryEncode(fields(i).dataType, row, i)
          else row.getString(i).getBytes(UTF_8)
        i32(b.length) ++ b
      }
    }
    send(out, 'D', (i16(fields.length) +: cols).reduce(_ ++ _))
  }
}

/** Standalone server: `runMain graft.wire.WireServer [port] [sfDir]`
  * listens on `port` (default 15432), resolves the fixture tables under
  * `sfDir` when given, and blocks until the JVM is stopped. */
object WireServer {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(15432)
    val spark = graft.Engine.session(s"local[${graft.Engine.cpus}]", "graft-wire")
    spark.sparkContext.setLogLevel("ERROR")
    val srv = new WireServer(spark, args.lift(1), port = port).start()
    println(s"[wire] listening on ${srv.boundPort}; ctrl-c to stop")
    Thread.currentThread().join()
  }
}
