package graft

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, ParsedStatement}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types._

import graft.sources.Copy

/** The statement surface of the reference, end to end: a session facade
  * whose [[plan]] is `exec_simple_query`'s one dispatch (reference
  * src/lib.rs:438-466 -> parse -> analyze -> utility::process_utility |
  * planner/executor). The reference grammar accepts exactly: SELECT, SET,
  * SHOW, CREATE TYPE, CREATE TABLE, BEGIN/COMMIT/ABORT, LOCK, COPY, and
  * the empty statement (src/parser/sql.lalrpop:28-39). [[plan]] applies
  * the aborted-block gate and the statement-error rule to every
  * statement, matches it once against that grammar's regexes and returns
  * one [[GraftSession.Outcome]]: Catalyst rows, a utility that yields its
  * command tag, or a COPY STDIN/STDOUT channel. [[admit]] re-applies the
  * gate when a planned outcome runs later (a wire portal). [[execute]],
  * [[copyInTarget]] and the wire front-end are thin callers of that one
  * path.
  *
  * Transaction semantics: the reference implements a real PG transaction
  * block state machine (TBlockState, src/access/xact.rs:216-234) with
  * aborted-block statement rejection (src/lib.rs:448-452). Spark has no
  * multi-statement ACID, so BEGIN/COMMIT/ABORT reproduce the STATE
  * MACHINE (incl. rejection + "commit of aborted block becomes rollback")
  * while each write remains individually atomic via the parquet commit
  * protocol — the documented divergence of SURVEY §7.3.
  */
class GraftSession(val spark: SparkSession, val dataDir: Option[String] = None) {
  import GraftSession._

  dataDir.foreach(Engine.registerViews(spark, _))

  /** Identity in the process-wide lock table (lmgr's se_lock_info
    * analogue, reference src/access/lmgr.rs:171-199). */
  private val sessionId: Long = GraftSession.nextSessionId()

  // -- GUCs (reference src/guc/gucdef.yaml; SET/SHOW src/utility.rs:107-149)
  // The COMPLETE gucdef.yaml envelope: every reference GUC with its
  // vartype (SET type-checks like utility.rs to_i32/to_f64/to_bool) and
  // boot_val. REPORT-flagged entries are what the wire front-end sends as
  // ParameterStatus (protocol.rs:382-402 report_guc/should_report).
  // Where a GUC has a real Spark analogue it is LINKED to the Spark conf.
  private val linkedGucs: Map[String, String] = Map(
    "batch_size" -> "spark.sql.parquet.columnarReaderBatchSize", // gucdef.yaml:146-149
    "search_path" -> "spark.sql.catalog.spark_catalog.defaultDatabase")
  // name -> (vartype INT|REAL|BOOL|STR, boot_val) in gucdef.yaml order
  private val gucDefs: Seq[(String, (String, String))] = Seq(
    "max_connections" -> ("INT", "16"),
    "port" -> ("INT", "1218"),
    "log_min_messages" -> ("STR", "DEBUG2"),
    "server_version" -> ("STR", "0.0.1"), // REPORT
    "server_encoding" -> ("STR", "UTF8"), // REPORT
    "client_encoding" -> ("STR", "UTF8"), // REPORT
    "is_superuser" -> ("BOOL", "true"), // REPORT
    "seq_page_cost" -> ("REAL", "1.0"),
    "search_path" -> ("STR", "public,kb_catalog"),
    "clog_l1cache_size" -> ("INT", "1024"),
    "clog_l2cache_size" -> ("INT", "128"),
    "wal_buff_max_size" -> ("INT", "33554432"),
    "wal_file_max_size" -> ("INT", "1073741824"),
    "xid_stop_limit" -> ("INT", "2000000000"),
    "mvcc_blk_rows" -> ("INT", "65536"),
    "data_blk_rows" -> ("INT", "65536"),
    "mvcc_buf_cap" -> ("INT", "16"),
    "max_files_per_process" -> ("INT", "1000"),
    "enable_cs_wal" -> ("BOOL", "false"),
    "table_sv_cap" -> ("INT", "1024"),
    "table_mvcc_cap" -> ("INT", "1024"),
    "batch_size" -> ("INT", "1024"))
  private val gucTypes: Map[String, String] = gucDefs.map { case (n, (t, _)) => n -> t }.toMap
  private val localGucs = scala.collection.mutable.Map[String, String](
    gucDefs.map { case (n, (_, v)) => n -> v }: _*)

  /** The REPORT-flagged GUCs (gucdef.yaml flags: REPORT) with current
    * values — the wire front-end's ParameterStatus set. */
  def reportGucs: Seq[(String, String)] =
    Seq("server_version", "server_encoding", "client_encoding", "is_superuser")
      .map(n => n -> localGucs(n))

  // -- transaction block state machine (xact.rs TBlockState subset)
  sealed trait TBlock
  case object TDefault extends TBlock
  case object TInProgress extends TBlock
  case object TAborted extends TBlock
  private var tblock: TBlock = TDefault
  def transactionState: String = tblock match {
    case TDefault => "idle"; case TInProgress => "in_transaction"
    case TAborted => "failed_transaction"
  }

  private val lockModes = Set( // src/access/lmgr.rs:35-46 (8 PG modes)
    "ACCESS SHARE", "ROW SHARE", "ROW EXCLUSIVE", "SHARE UPDATE EXCLUSIVE",
    "SHARE", "SHARE ROW EXCLUSIVE", "EXCLUSIVE", "ACCESS EXCLUSIVE")
  private val heldLocks = scala.collection.mutable.ListBuffer[(String, String)]()
  def locks: Seq[(String, String)] = heldLocks.toList

  private def result(rows: Seq[(String, String)], cols: (String, String)): DataFrame = {
    import spark.implicits._
    rows.toDF(cols._1, cols._2)
  }
  private def tag(t: String): DataFrame = {
    import spark.implicits._
    Seq(t).toDF("command_status")
  }
  private def rows(df: DataFrame): Rows = Rows(df.schema, () => df)

  private val reSet: Regex = """(?is)^\s*SET\s+(\w+)\s*(?:=|TO)\s*'?([^';]*?)'?\s*;?\s*$""".r
  private val reShow: Regex = """(?is)^\s*SHOW\s+(\w+)\s*;?\s*$""".r
  private val reBegin: Regex = """(?is)^\s*(BEGIN|START\s+TRANSACTION)\s*;?\s*$""".r
  private val reCommit: Regex = """(?is)^\s*(COMMIT|END)\s*;?\s*$""".r
  private val reAbort: Regex = """(?is)^\s*(ABORT|ROLLBACK)\s*;?\s*$""".r
  private val reLock: Regex = """(?is)^\s*LOCK\s+(?:TABLE\s+)?([\w.]+)(?:\s+IN\s+(.+?)\s+MODE)?\s*;?\s*$""".r
  private val reCreateType: Regex = """(?is)^\s*CREATE\s+TYPE\s+([\w.]+)\s*;?\s*$""".r
  private val reCreateTable: Regex = """(?is)^\s*CREATE\s+TABLE\s+([\w.]+)\s*\((.+?)\)\s*(?:WITH\s*\((.*)\))?\s*;?\s*$""".r
  private val reCopyFrom: Regex =
    """(?is)^\s*COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(.*?)\s*;?\s*$""".r
  private val reCopyTo: Regex =
    """(?is)^\s*COPY\s+([\w.]+)\s+TO\s+'([^']+)'\s*(.*?)\s*;?\s*$""".r
  private val reCopyFromStdin: Regex =
    """(?is)^\s*COPY\s+([\w.]+)\s+FROM\s+STDIN\s*(.*?)\s*;?\s*$""".r
  private val reCopyToStdout: Regex =
    """(?is)^\s*COPY\s+([\w.]+)\s+TO\s+STDOUT\s*(.*?)\s*;?\s*$""".r

  /** The aborted-block gate: in an aborted block only COMMIT/ABORT and
    * the empty statement get through (lib.rs:448-452). */
  private def gate(endsBlock: Boolean): Unit =
    if (tblock == TAborted && !endsBlock)
      throw new GraftStateError(Errors.InFailedSqlTransaction,
        "current transaction is aborted, commands ignored until end of transaction block")

  /** The statement-error rule: a statement that fails inside a block
    * aborts it — exec_simple_query's error path (lib.rs:468-473 ->
    * abort_cur_tran, xact.rs:573-576). */
  private def failing[T](body: => T): T =
    try body catch { case e: Throwable => onStatementError(); throw e }

  private def endsBlock(t: String): Boolean =
    t.isEmpty || t == ";" || reCommit.matches(t) || reAbort.matches(t)

  /** The exec_simple_query dispatch: gate `sql`, then match it once
    * against the grammar and plan it. Planning runs Catalyst analysis
    * (named `params` bind server-side via Spark's parameterized SQL — no
    * string splicing), SHOW's lookup and COPY STDIN/STDOUT's relation and
    * option checks; it runs no statement. The caller runs the outcome,
    * after [[admit]] when the block may have changed since planning. */
  def plan(sql: String, params: Map[String, Any] = Map.empty): Outcome = {
    val t = sql.trim
    gate(endsBlock(t))
    failing(route(t, params))
  }

  /** The Execute-time gate (PG's exec_execute_message): an outcome
    * planned before its block aborted runs only if it ends the block. */
  def admit(outcome: Outcome): Unit =
    gate(outcome match { case u: Utility => u.endsBlock; case _ => false })

  /** The row schema of `sql` planned with `params` (Describe of a
    * prepared statement, whose values are not bound yet). Outside the
    * gate and the statement-error rule: a statement that cannot be
    * planned before its values are known describes as no rows. */
  def describe(sql: String, params: Map[String, Any]): Option[StructType] =
    scala.util.Try(route(sql.trim, params)).toOption.collect { case Rows(s, _) => s }

  private def route(t: String, params: Map[String, Any]): Outcome = {
    // the driver tables' views follow their files: a part file appended
    // since the last statement is in this one's plan
    dataDir.foreach(Engine.registerViews(spark, _))
    def utility(body: => String) = Utility(() => failing(body))
    t match {
      case "" | ";" => Utility(() => EmptyQuery, endsBlock = true)
      case reBegin(_) => utility {
        if (tblock == TInProgress) "WARNING: there is already a transaction in progress"
        else { tblock = TInProgress; "BEGIN" }
      }
      case reCommit(_) => Utility(() => {
        val was = tblock; tblock = TDefault; releaseLocks()
        if (was == TAborted) "ROLLBACK" else "COMMIT"
      }, endsBlock = true)
      case reAbort(_) =>
        Utility(() => { tblock = TDefault; releaseLocks(); "ROLLBACK" }, endsBlock = true)
      case reSet(name, value) => utility(setGuc(name.toLowerCase, value))
      case reShow(name) => rows(showGuc(name.toLowerCase))
      case reLock(table, mode) => utility(lockTable(table, Option(mode)))
      // stub parity: parse + namespace-resolve only (typecmds.rs:17-28)
      case reCreateType(name) => utility(s"CreateTypeStmt { name: $name }")
      case reCreateTable(name, cols, opts) => utility(createTable(name, cols, Option(opts)))
      case reCopyFrom(table, path, opts) => utility(copyFrom(table, path, opts))
      case reCopyTo(table, path, opts) => utility(copyTo(table, path, opts))
      case reCopyFromStdin(table, opts) => channel(table, opts, fromClient = true)
      case reCopyToStdout(table, opts) => channel(table, opts, fromClient = false)
      case _ =>
        def run() = if (params.isEmpty) spark.sql(t) else spark.sql(t, params)
        // spark.sql runs a Spark command (INSERT, DROP, CREATE VIEW, ...)
        // as soon as it analyzes it, so a command waits for the caller to
        // run it; its result schema is declared on the parsed node
        scala.util.Try(GraftShim.parsePlan(spark, t)).toOption.filter(_.exists {
          case _: Command | _: ParsedStatement => true
          case _ => false
        }) match {
          case Some(cmd) =>
            Rows(scala.util.Try(cmd.schema).getOrElse(new StructType()), () => run())
          case None => rows(run())
        }
    }
  }

  /** The session API: [[plan]], then run a utility and render its tag
    * as a one-row `command_status` frame. COPY STDIN/STDOUT needs the
    * wire front-end's data channel and fails here. */
  def execute(sql: String, params: Map[String, Any] = Map.empty): DataFrame =
    plan(sql, params) match {
      case Rows(_, df) => df()
      case Utility(run, _) => tag(run())
      case c: CopyChannel =>
        onStatementError()
        throw new GraftArgError(Errors.FeatureNotSupported,
          s"COPY ${if (c.fromClient) "FROM STDIN" else "TO STDOUT"} is only " +
            "available through the wire protocol's copy channel")
    }

  /** A failed statement inside a transaction block aborts the block
    * (Inprogress -> Abort). [[plan]] and a utility's run apply it
    * themselves; the wire front-end also reports execution-time failures
    * of Catalyst rows and COPY channels here. */
  private[graft] def onStatementError(): Unit =
    if (tblock == TInProgress) tblock = TAborted

  private def setGuc(name: String, value: String): String = {
    if (!localGucs.contains(name))
      throw new GraftArgError(Errors.UndefinedObject,
        s"unrecognized configuration parameter \"$name\"")
    // vartype check, the utility.rs:117-134 to_i32/to_f64/to_bool path:
    // a mistyped value is an error, not a silent string store
    val ok = gucTypes(name) match {
      case "INT" => value.trim.matches("[+-]?\\d+") &&
        scala.util.Try(value.trim.toLong).toOption.exists(v =>
          v >= Int.MinValue && v <= Int.MaxValue)
      case "REAL" => scala.util.Try(value.trim.toDouble).isSuccess
      case "BOOL" => Set("true", "false", "on", "off", "t", "f", "1", "0",
        "yes", "no")(value.trim.toLowerCase)
      case _ => true
    }
    if (!ok) throw new GraftArgError(Errors.InvalidParameterValue,
      s"invalid value for parameter \"$name\": \"$value\"")
    // store the typed canonical form, not the raw spelling — the
    // reference's to_bool/to_i32/to_f64 parse stores a typed value and
    // SHOW renders its canonical text (utility.rs:117-134)
    val canonical = gucTypes(name) match {
      case "BOOL" => if (Set("true", "on", "t", "1", "yes")(value.trim.toLowerCase))
        "true" else "false"
      case "INT" => value.trim.toLong.toString
      case "REAL" => value.trim.toDouble.toString
      case _ => value
    }
    localGucs(name) = canonical
    linkedGucs.get(name).foreach { conf =>
      try spark.conf.set(conf, value) catch { case _: Exception => }
    }
    "SET"
  }

  private def showGuc(name: String): DataFrame = name match {
    case "all" => result(localGucs.toSeq.sorted, ("name", "setting"))
    case n if localGucs.contains(n) =>
      // reference shape (utility.rs:40-44 + lib.rs:391-409
      // write_str_response): ONE varchar column NAMED the guc, one row
      // with its canonical value — what psql renders for SHOW x.
      // (The first real-client conformance pass caught this: the old
      // (name, setting) pair row is PG's SHOW ALL shape, not SHOW's.)
      import spark.implicits._
      Seq(localGucs(n)).toDF(n)
    case n => throw new GraftArgError(Errors.UndefinedObject,
      s"unrecognized configuration parameter \"$n\"")
  }

  /** Resolve an unqualified relation name through search_path order —
    * the rv_get_oid path (reference src/catalog/namespace.rs:29-70):
    * the session's temp/view namespace shadows everything (PG's
    * implicit temp schema), then the first search_path namespace where
    * the name exists wins. Qualified names pass through untouched. */
  private[graft] def resolveRelation(name: String): String = {
    if (name.contains(".")) return name
    if (spark.catalog.tableExists(name)) return name
    localGucs("search_path").split(",").map(_.trim).filter(_.nonEmpty)
      .collectFirst {
        case ns if spark.catalog.tableExists(s"$ns.$name") => s"$ns.$name"
      }.getOrElse(name)
  }

  private def lockTable(table: String, mode: Option[String]): String = {
    // requires a transaction block (src/commands/lockcmds.rs:18-24)
    if (tblock != TInProgress)
      throw new GraftStateError(Errors.NoActiveSqlTransaction,
        "LOCK TABLE can only be used in transaction blocks")
    val m = mode.map(_.toUpperCase.replaceAll("\\s+", " ")).getOrElse("ACCESS EXCLUSIVE")
    if (!lockModes.contains(m))
      throw new GraftArgError(Errors.SyntaxError, s"unrecognized lock mode: $m")
    val rel = resolveRelation(table)
    spark.table(rel) // errors like rv_get_oid if the table doesn't exist
    // enforce the cross-session conflict matrix (lmgr.rs LOCKCONFLICT)
    GraftSession.LockManager.acquire(sessionId, rel, m)
    heldLocks += ((rel, m))
    "LOCK TABLE"
  }

  private def releaseLocks(): Unit = {
    heldLocks.clear()
    GraftSession.LockManager.releaseAll(sessionId)
  }

  /** CREATE TABLE with the reference's column grammar: int | smallint |
    * varchar[(n)] (+ the rest of the bootstrap type surface), NOT NULL
    * (sql.lalrpop:336-379,432-438); rejected inside a transaction block
    * (tablecmds.rs:105). */
  private def createTable(name: String, colsSpec: String,
      reloptions: Option[String]): String = {
    if (tblock == TInProgress)
      throw new GraftStateError(Errors.ActiveSqlTransaction,
        "CREATE TABLE cannot run inside a transaction block")
    val colRe = """(?i)\s*(\w+)\s+(\w+(?:\s*\(\s*\d+\s*\))?)(\s+NOT\s+NULL)?\s*""".r
    val ddlCols = colsSpec.split(",").map {
      case colRe(cn, ty, nn) =>
        val sparkTy = ty.toLowerCase.replaceAll("\\s", "") match {
          case "int" | "int4" | "integer" => "INT"
          case "smallint" | "int2" => "SMALLINT"
          case "bigint" | "int8" => "BIGINT"
          case "bool" | "boolean" => "BOOLEAN"
          case "float4" | "real" => "FLOAT"
          case "float8" | "double" => "DOUBLE"
          case "bytea" => "BINARY"
          case v if v.startsWith("varchar") => v.toUpperCase
          case other => throw new GraftArgError(Errors.UndefinedObject, s"unknown type: $other")
        }
        s"$cn $sparkTy${if (nn != null) " NOT NULL" else ""}"
      case bad => throw new GraftArgError(Errors.SyntaxError, s"cannot parse column: $bad")
    }
    // Spark's in-memory catalog accepts NOT NULL in the DDL but drops
    // the constraint from the stored parquet-table schema, so it would
    // survive neither this session's kb_attribute nor a restart. The
    // reference catalog persists it (catalog.rs attnotnull); persist it
    // here as a table property — properties live in the shared external
    // catalog, so a fresh session rebuilds identical kb rows and the
    // COPY paths can enforce 23502.
    val notNullCols = colsSpec.split(",").collect {
      case colRe(cn, _, nn) if nn != null => cn }
    // reloptions (WITH (k=v, ...), reference rel.rs:20-25; grammar
    // sql.lalrpop:401-418: ident = NumericOnly | Sconst, list non-empty)
    // -> parquet table properties
    // tokenize k = v pairs (v = 'sconst' | bare); cursor-coverage check
    // rejects anything the grammar wouldn't accept (bare keys, empty list)
    val optRe = """\s*(\w+)\s*=\s*(?:'([^']*)'|([^\s,']+))\s*(,|$)""".r
    val props = reloptions.map { spec =>
      if (spec.trim.isEmpty)
        throw new GraftArgError(Errors.SyntaxError, "WITH () requires at least one reloption")
      val ms = optRe.findAllMatchIn(spec).toSeq
      if (ms.isEmpty || ms.head.start != 0 || ms.last.end != spec.length ||
        ms.sliding(2).exists { case Seq(a, b) => a.end != b.start; case _ => false })
        throw new GraftArgError(Errors.SyntaxError,
          s"cannot parse reloptions: $spec (expected key = value, ...)")
      ms.map { m =>
        val v = if (m.group(2) != null) m.group(2) else m.group(3)
        s"'${m.group(1)}' = '${v.replace("'", "''")}'"
      }
    }.getOrElse(Seq.empty) ++
      (if (notNullCols.isEmpty) Seq.empty
       else Seq(s"'${Catalog.NotNullProp}' = '${notNullCols.mkString(",")}'"))
    val propsSql =
      if (props.isEmpty) "" else s" TBLPROPERTIES (${props.mkString(", ")})"
    spark.sql(s"CREATE TABLE $name (${ddlCols.mkString(", ")}) USING parquet$propsSql")
    "CREATE TABLE"
  }

  /** COPY options with the reference's validation discipline
    * (copy.rs:202-270 parse_copyopts): an unrecognized option is a
    * syntax error (42601, copy.rs:261), a recognized option with a
    * mistyped value is invalid_parameter_value (22023). Grammar
    * surface = [USING] DELIMITERS 'x' | NULL 'x' | CSV | (parallel n)
    * (sql.lalrpop:508-529) + HEADER as a documented extension. */
  private def copyOpts(spec: String): Copy.Options = {
    var o = Copy.Options()
    var rest = spec
    def strip(re: Regex)(f: Regex.Match => Unit): Unit =
      re.findFirstMatchIn(rest).foreach { m =>
        f(m); rest = rest.substring(0, m.start) + " " + rest.substring(m.end)
      }
    strip("""(?is)(?:USING\s+)?DELIMITERS?\s+'([^']+)'""".r)(m =>
      o = o.copy(delimiter = m.group(1)))
    strip("""(?is)NULL\s+(?:AS\s+)?'([^']*)'""".r)(m =>
      o = o.copy(nullValue = m.group(1)))
    strip("""(?is)\(\s*parallel\s+([^)]*?)\s*\)""".r) { m =>
      val v = m.group(1)
      if (!v.matches("\\d+"))
        throw new GraftArgError(Errors.InvalidParameterValue,
          s"COPY parallel $v not recognized")
      o = o.copy(parallel = Some(v.toInt))
    }
    strip("""(?is)\bHEADER\b""".r)(_ => o = o.copy(header = true))
    strip("""(?is)\bCSV\b""".r)(_ => ()) // bare CSV = the default format
    strip("""(?is)\bWITH\b""".r)(_ => ())
    if (rest.trim.nonEmpty)
      throw new GraftArgError(Errors.SyntaxError,
        s"option ${rest.trim} not recognized")
    o
  }

  private def copyFrom(table: String, path: String, opts: String): String = {
    val rel = resolveRelation(table)
    val schema = spark.table(rel).schema
    checkNotNull(Copy.from(spark, path, schema, copyOpts(opts)), rel, schema)
      .write.mode("append").insertInto(rel)
    "COPY"
  }

  /** PG's not-null check on the COPY ingest paths (23502
    * not_null_violation): the constraint lives in the table properties
    * ([[Catalog.NotNullProp]] — Spark's stored parquet schema cannot
    * carry it), enforced per row inside the write pipeline, no extra
    * pass. */
  private def checkNotNull(df: DataFrame, rel: String,
      schema: StructType): DataFrame = {
    val nn = Catalog.notNullCols(spark, rel)
    if (nn.isEmpty) df
    else df.select(schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      if (nn(f.name))
        when(c.isNull, raise_error(lit(s"null value in column " +
          s""""${f.name}" of relation "$rel" violates not-null """ +
          "constraint (SQLSTATE 23502)")).cast(f.dataType))
          .otherwise(c).as(f.name)
      else c
    }.toIndexedSeq: _*)
  }

  /** COPY FROM STDIN / TO STDOUT: resolve the relation and parse the
    * options (the same copy.rs option grammar as the file path) so the
    * wire front-end can drive the copy sub-protocol (CopyInResponse /
    * CopyOutResponse, CopyData, CopyDone — the DestRemote
    * result-streaming analogue, in both directions). */
  private def channel(table: String, opts: String, fromClient: Boolean): CopyChannel = {
    val rel = resolveRelation(table)
    CopyChannel(rel, spark.table(rel).schema, copyOpts(opts), fromClient)
  }

  /** The wire copy-in target of `query` when it is
    * `COPY t FROM STDIN [opts]`, gated like every statement; None for
    * every other statement, which is left unplanned. */
  def copyInTarget(query: String): Option[(String, StructType, Copy.Options)] =
    query match {
      case reCopyFromStdin(table, opts) =>
        gate(endsBlock = false)
        val ch = failing(channel(table, opts, fromClient = true))
        Some((ch.rel, ch.schema, ch.opts))
      case _ => None
    }

  /** Complete a wire copy-in: parse the accumulated CopyData payload
    * with the engine's COPY dialect (delimiter/null/header options — the
    * same parse as the file path, via an in-memory Dataset[String]) and
    * append to the table. Returns the ingested row count for the
    * `COPY n` CommandComplete tag. The payload arrived through one
    * socket, so it is driver-local by construction; file-path COPY
    * remains the bulk route (distributed scan, `(parallel n)`). The
    * batch writes `Engine.filesFor(payload size)` files. */
  def copyInRows(rel: String, schema: StructType, opts: Copy.Options,
      payload: String): Long = {
    import spark.implicits._
    val lines = payload.split("\n", -1).toIndexedSeq
      .filter(l => l.nonEmpty && l != "\\.") // v3 ends with CopyDone; tolerate a trailing \.
    val ds = spark.createDataset(lines)
    Engine.inFiles(checkNotNull(Copy.fromLines(ds, schema, opts), rel, schema),
      payload.length.toLong).write.mode("append").insertInto(rel)
    lines.size.toLong
  }

  private def copyTo(table: String, path: String, opts: String): String = {
    Copy.to(spark.table(resolveRelation(table)), path, copyOpts(opts))
    "COPY"
  }

  /** Stream a relation as COPY text lines for a wire copy-out.
    * toLocalIterator keeps one partition resident on the driver at a
    * time — the socket, not driver memory, is the bottleneck by
    * construction (file-path COPY TO remains the bulk route). */
  def copyOutLines(rel: String, opts: Copy.Options): Iterator[String] = {
    val df = spark.table(rel)
    val it = {
      import scala.jdk.CollectionConverters._
      Copy.toLines(df, opts).toLocalIterator().asScala
    }
    if (opts.header) Iterator(df.columns.mkString(opts.delimiter)) ++ it
    else it
  }
}

object GraftSession {
  private val sessionCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextSessionId(): Long = sessionCounter.incrementAndGet()

  /** What [[GraftSession.plan]] routes a statement to — the three
    * branches of exec_simple_query. Planning runs nothing but analysis
    * and catalog lookups; the caller runs the outcome. */
  sealed trait Outcome
  /** Catalyst rows of `schema`: `df()` returns the analyzed plan (or
    * SHOW's one-row frame), which an action runs. A Spark command runs
    * when `df()` is called. */
  final case class Rows(schema: StructType, df: () => DataFrame) extends Outcome
  /** A utility statement: `run()` performs it and returns its
    * CommandComplete tag ([[EmptyQuery]] for the empty statement).
    * `endsBlock` marks COMMIT/ABORT and the empty statement, which an
    * aborted block admits. */
  final case class Utility(run: () => String, endsBlock: Boolean = false) extends Outcome
  /** COPY FROM STDIN (`fromClient`) or TO STDOUT: the resolved relation,
    * its schema and the parsed options; the caller owns the data
    * channel ([[GraftSession.copyInRows]] / [[GraftSession.copyOutLines]]). */
  final case class CopyChannel(rel: String, schema: StructType,
      opts: Copy.Options, fromClient: Boolean) extends Outcome

  /** The empty statement's tag: the wire answers it with
    * EmptyQueryResponse, not CommandComplete (lib.rs:453-457). */
  final val EmptyQuery = "EmptyQueryResponse"

  /** Split a simple-Query string into its top-level statements — the
    * PG exec_simple_query contract a real client (psql -c) relies on.
    * The reference parses ONE statement per Query message (lib.rs:
    * 439-447 — a multi-statement string is a syntax error there); this
    * engine exceeds that surface the same way it does for COPY TO,
    * because libpq clients legitimately send "a; b" in one message.
    * Respects: '...' (with '' escape), E'...' (backslash escapes),
    * "..." identifiers, -- line comments, nested block comments,
    * $tag$...$tag$ dollar quoting. Empty segments (bare or trailing
    * ';') are dropped — PG sends EmptyQueryResponse only when the
    * WHOLE string is empty. */
  def splitStatements(sql: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var i = 0
    val n = sql.length
    def flush(): Unit = {
      val s = cur.toString.trim
      if (s.nonEmpty && s != ";") out += s
      cur.clear()
    }
    while (i < n) {
      val c = sql.charAt(i)
      def startsWith(s: String) = sql.regionMatches(true, i, s, 0, s.length)
      if (c == ';') { flush(); i += 1 }
      else if (c == '\'' || ((c == 'e' || c == 'E') && i + 1 < n && sql.charAt(i + 1) == '\'')) {
        // string literal; E'' honors backslash escapes, '' honors ''
        val escaped = c != '\''
        if (escaped) { cur += c; i += 1 }
        cur += '\''; i += 1
        var closed = false
        while (i < n && !closed) {
          val ch = sql.charAt(i)
          if (escaped && ch == '\\' && i + 1 < n) { cur += ch += sql.charAt(i + 1); i += 2 }
          else if (ch == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') { cur ++= "''"; i += 2 }
          else if (ch == '\'') { cur += ch; i += 1; closed = true }
          else { cur += ch; i += 1 }
        }
      } else if (c == '"') {
        cur += c; i += 1
        while (i < n && sql.charAt(i) != '"') { cur += sql.charAt(i); i += 1 }
        if (i < n) { cur += '"'; i += 1 }
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') { cur += sql.charAt(i); i += 1 }
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        var depth = 0
        var go = true
        while (i < n && go) {
          if (startsWith("/*")) { depth += 1; cur ++= "/*"; i += 2 }
          else if (startsWith("*/")) { depth -= 1; cur ++= "*/"; i += 2; go = depth > 0 }
          else { cur += sql.charAt(i); i += 1 }
        }
      } else if (c == '$') {
        // $tag$ ... $tag$ (tag = [A-Za-z_][A-Za-z0-9_]* or empty)
        val m = """\$[A-Za-z_][A-Za-z0-9_]*\$|\$\$""".r
          .findPrefixOf(sql.substring(i))
        m match {
          case Some(open) =>
            cur ++= open; i += open.length
            val end = sql.indexOf(open, i)
            val stop = if (end == -1) n else end + open.length
            cur ++= sql.substring(i, stop); i = stop
          case None => cur += c; i += 1
        }
      } else { cur += c; i += 1 }
    }
    flush()
    out.toSeq
  }

  /** Process-wide lock table enforcing PG's 8x8 table-lock conflict
    * matrix — the lmgr analogue (reference src/access/lmgr.rs:32-68
    * LOCKCONFLICT bitmasks; conflict check lmgr.rs:277-373). The
    * reference queues conflicting requests and waits; here a conflicting
    * request throws immediately (NOWAIT semantics): an analytics session
    * holding a lock for a multi-minute Spark job would otherwise block a
    * peer indefinitely with no deadlock detector. A session's own grants
    * never conflict with its new requests (re-grant, lmgr.rs:305-312).
    */
  private[graft] object LockManager {
    // mode ordinals follow the reference enum (lmgr.rs:35-46)
    private val modeIndex: Map[String, Int] = Map(
      "ACCESS SHARE" -> 1, "ROW SHARE" -> 2, "ROW EXCLUSIVE" -> 3,
      "SHARE UPDATE EXCLUSIVE" -> 4, "SHARE" -> 5,
      "SHARE ROW EXCLUSIVE" -> 6, "EXCLUSIVE" -> 7, "ACCESS EXCLUSIVE" -> 8)
    private def bit(i: Int): Int = 1 << i
    // LOCKCONFLICT (lmgr.rs:57+): per-mode mask of conflicting modes
    private val conflictMask: Array[Int] = Array(
      0,
      bit(8), // ACCESS SHARE
      bit(7) | bit(8), // ROW SHARE
      bit(5) | bit(6) | bit(7) | bit(8), // ROW EXCLUSIVE
      bit(4) | bit(5) | bit(6) | bit(7) | bit(8), // SHARE UPDATE EXCLUSIVE
      bit(3) | bit(4) | bit(6) | bit(7) | bit(8), // SHARE
      bit(3) | bit(4) | bit(5) | bit(6) | bit(7) | bit(8), // SHARE ROW EXCLUSIVE
      bit(2) | bit(3) | bit(4) | bit(5) | bit(6) | bit(7) | bit(8), // EXCLUSIVE
      (1 to 8).map(bit).reduce(_ | _)) // ACCESS EXCLUSIVE

    // table -> (sessionId -> mask of granted modes)
    private val held =
      scala.collection.mutable.Map[String, scala.collection.mutable.Map[Long, Int]]()

    /** How long a conflicting acquire WAITS before failing with 55P03.
      * The reference's lmgr blocks indefinitely until the conflicting
      * holder releases (lmgr.rs:277-373: the conflict check is wired
      * into acquire/release bookkeeping and the waiter re-checks on
      * every release); an analytics session that can wait forever on a
      * driver lock is an operability hazard, so this port bounds the
      * wait — within the window the behavior is the reference's
      * (blocked until release), past it PostgreSQL's lock_timeout
      * semantics apply (SQLSTATE 55P03 lock_not_available). Process-
      * wide and settable (tests shrink it). A cross-session deadlock
      * never reaches this deadline: the wait-for-graph check in
      * acquire fails the cycle-closing request with 40P01
      * deadlock_detected immediately (PG's deadlock.c semantics; the
      * reference's lmgr would block both forever). */
    @volatile var waitTimeoutMs: Long = 5000L

    // wait-for graph: sid -> the sessions whose grants currently block
    // it. An edge exists only while its owner sleeps inside acquire;
    // every read/write happens under the manager monitor, so cycle
    // checks always see a consistent graph.
    private val waitingFor =
      scala.collection.mutable.Map[Long, Set[Long]]()

    /** Test-visible snapshot of the wait-for graph (specs assert no
      * stale edges survive grants, victims, and repeated cycles). */
    private[graft] def waitingSnapshot: Map[Long, Set[Long]] =
      synchronized { waitingFor.toMap }

    /** Can `me` be reached from `start` by following wait-for edges?
      * (BFS; if yes, the edge me->start would close a cycle.) */
    private def reachesMe(me: Long, start: Set[Long]): Boolean = {
      val seen = scala.collection.mutable.Set[Long]()
      var frontier = start
      while (frontier.nonEmpty) {
        if (frontier.contains(me)) return true
        seen ++= frontier
        frontier = frontier.flatMap(s =>
          waitingFor.getOrElse(s, Set.empty)).diff(seen)
      }
      false
    }

    def acquire(sid: Long, table: String, mode: String): Unit = synchronized {
      val m = modeIndex(mode)
      val deadline = System.nanoTime() + waitTimeoutMs * 1000000L
      try {
        // the condition-variable loop: sleep on the manager's monitor,
        // re-check the blocker set every time any session releases
        var granted = false
        while (!granted) {
          val blockers = held
            .getOrElse(table, scala.collection.mutable.Map.empty)
            .iterator
            .collect { case (s, g) if s != sid && (conflictMask(m) & g) != 0 => s }
            .toSet
          if (blockers.isEmpty) {
            // clear the wait edge AT grant, not just in the finally:
            // the graph must never show an edge for a session that is
            // no longer sleeping (keeps cycle checks minimal and makes
            // the snapshot assertable in specs)
            waitingFor.remove(sid)
            granted = true
          } else {
            // deadlock check BEFORE sleeping (PG's deadlock.c runs on
            // deadlock_timeout; eagerly here — same victim semantics,
            // prompt resolution): if a blocker transitively waits on
            // US, sleeping would close a cycle no release can break.
            // The acquire that closes the cycle is the victim (40P01),
            // exactly the session whose check fires first in PG.
            waitingFor(sid) = blockers
            if (reachesMe(sid, blockers))
              throw new GraftStateError(Errors.DeadlockDetected,
                s"deadlock detected: session $sid waiting for $mode on " +
                  s"\"$table\" closes a wait-for cycle with " +
                  s"session(s) ${blockers.mkString(", ")}")
            val remainMs = (deadline - System.nanoTime()) / 1000000L
            if (remainMs <= 0)
              throw new GraftStateError(Errors.LockNotAvailable,
                s"could not obtain $mode lock on relation \"$table\": " +
                  "timeout waiting for conflicting locks to be released")
            wait(remainMs)
          }
        }
      } finally waitingFor.remove(sid)
      val grants = held.getOrElseUpdate(table, scala.collection.mutable.Map())
      grants(sid) = grants.getOrElse(sid, 0) | bit(m)
    }

    /** Drop every grant of one session (COMMIT/ABORT path —
      * lmgr.rs release-on-xact-end) and wake every waiter so blocked
      * acquires re-check their conflict masks. */
    def releaseAll(sid: Long): Unit = synchronized {
      held.values.foreach(_.remove(sid))
      held.filterInPlace((_, g) => g.nonEmpty)
      notifyAll()
    }
  }
}
