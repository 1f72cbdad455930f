package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** kb_* introspection views — the reference's PG-shaped catalog surface
  * (reference src/bin/initdb/main.rs: kb_class 76-117, kb_attribute
  * 157-203, kb_type 271-322; SQLite-backed per src/catalog.rs:37) derived
  * live from the Spark session catalog instead of a side database.
  *
  * Type oids follow the reference's bootstrap (src/oids.rs:35-59); typlen
  * follows the PG typlen convention (-1 = varlena, src/parser/sem.rs:73-78).
  */
object Catalog {

  /** Table property carrying CREATE TABLE's NOT NULL column list —
    * Spark's catalog drops the constraint from the stored parquet
    * schema, so the session persists it out-of-band (the attnotnull the
    * reference keeps in its SQLite catalog, catalog.rs:37). Properties
    * live in the shared external catalog: a fresh session rebuilds
    * identical kb_attribute rows from them. */
  final val NotNullProp = "graft.notnull"

  /** NOT NULL columns of a catalog table per [[NotNullProp]] (empty for
    * temp views and property-less tables). Any other catalog failure —
    * an unknown table, an unreachable metastore — propagates: COPY's
    * 23502 enforcement must never be switched off by a swallowed error. */
  def notNullCols(spark: SparkSession, table: String): Set[String] = {
    val state = spark.sessionState
    val ident = state.sqlParser.parseTableIdentifier(table)
    if (state.catalog.isTempView(ident)) Set.empty
    else state.catalog.getTableMetadata(ident).properties.get(NotNullProp)
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  /** (oid, typname, typlen, typalign) — the 8 bootstrapped types
    * (initdb/main.rs:407-452) + the driver-testdata extensions that the
    * reference lacks (timestamp, double-array), flagged by oid >= 90000. */
  val kbTypes: Seq[(Int, String, Int, String)] = Seq(
    (16, "bool", 1, "c"), (17, "bytea", -1, "i"), (20, "int8", 8, "d"),
    (21, "int2", 2, "s"), (23, "int4", 4, "i"), (700, "float4", 4, "i"),
    (701, "float8", 8, "d"), (1043, "varchar", -1, "i"),
    (90001, "timestamp", 8, "d"), (90002, "_float4", -1, "i"))

  def typeOid(dt: DataType): Int = dt match {
    case BooleanType => 16
    case BinaryType => 17
    case LongType => 20
    case ShortType => 21
    case IntegerType => 23
    case FloatType => 700
    case DoubleType => 701
    case StringType => 1043
    case TimestampType | TimestampNTZType => 90001
    case ArrayType(FloatType, _) => 90002
    case _ => 0
  }

  def typeLen(dt: DataType): Int = dt match {
    case BooleanType => 1
    case ShortType => 2
    case IntegerType | FloatType => 4
    case LongType | DoubleType | TimestampType | TimestampNTZType => 8
    case _ => -1 // varlena
  }

  /** Build + register kb_class / kb_attribute / kb_type over everything
    * visible in the session catalog (temp views + tables). Oids are
    * deterministic (stable hash of the name), relkind mirrors kb_class
    * ('r' = relation, 'v' = view). */
  def registerKbViews(spark: SparkSession): Unit = {
    import spark.implicits._
    val tables = spark.catalog.listTables().collect()

    val kbClass = tables.zipWithIndex.map { case (t, i) =>
      val relkind = if (t.tableType == "TEMPORARY" || t.tableType == "VIEW") "v" else "r"
      (16384 + i, t.name, Option(t.database).getOrElse("public"), relkind)
    }.toSeq
    kbClass.toDF("oid", "relname", "relnamespace", "relkind")
      .createOrReplaceTempView("kb_class")

    val kbAttr = kbClass.flatMap { case (oid, name, _, relkind) =>
      val schema =
        try spark.table(name).schema catch { case _: Exception => StructType(Nil) }
      val nn = if (relkind == "r") notNullCols(spark, name) else Set.empty[String]
      schema.fields.zipWithIndex.map { case (f, num) =>
        (oid, f.name, typeOid(f.dataType), typeLen(f.dataType),
          num + 1, !f.nullable || nn(f.name), false)
      }
    }
    kbAttr.toDF("attrelid", "attname", "atttypid", "attlen",
      "attnum", "attnotnull", "attisdropped")
      .createOrReplaceTempView("kb_attribute")

    kbTypes.toDF("oid", "typname", "typlen", "typalign")
      .createOrReplaceTempView("kb_type")

    // kb_namespace (initdb/main.rs:205-216,349-356) and kb_database
    // (initdb/main.rs:48-74,325-339): the two bootstrap namespaces and
    // the template/default databases.
    Seq((11, "kb_catalog"), (2200, "public"))
      .toDF("oid", "nspname").createOrReplaceTempView("kb_namespace")
    Seq((1, "template1", true, false), (16384, "kuiba", false, true))
      .toDF("oid", "datname", "datistemplate", "datallowconn")
      .createOrReplaceTempView("kb_database")

    // kb_proc (initdb/main.rs:218-269) + kb_operator (initdb/main.rs:
    // 464-650): the arithmetic proc matrix actually registered in the
    // FunctionRegistry (functions.GraftFunctions.arithProcs) plus the
    // graft kernel surface. prokind 'f', provolatile 'i' (immutable).
    val GF = functions.GraftFunctions
    // binary proc families: arithmetic, modulo, comparison, bitwise,
    // named (dsqrt/dcbrt are unary but ride the 4-tuple with rOid 0)
    val binaryProcs = GF.arithProcs ++ GF.modProcs ++ GF.cmpProcs ++
      GF.bitProcs ++ GF.namedProcs
    val kernelProcs = Seq(
      ("graft_fnv64", 1, 20), ("graft_tokens", 1, 0), ("graft_shingles", 2, 0),
      ("graft_minhash", 2, 0), ("graft_simhash", 1, 20),
      ("graft_sig_match", 2, 23), ("graft_bands", 2, 0),
      ("graft_dot", 2, 701), ("graft_cosine", 2, 701))
    val procRows =
      binaryProcs.zipWithIndex.map { case ((name, _, rOid, res), i) =>
        (20000 + i, name, "f", "i", if (rOid == 0) 1 else 2, res)
      } ++ (GF.unaryProcs ++ GF.upProcs).zipWithIndex.map {
        case ((name, _, res), i) => (22000 + i, name, "f", "i", 1, res)
      } ++ (GF.ioProcs ++ kernelProcs).zipWithIndex.map {
        case ((name, nargs, res), i) => (23000 + i, name, "f", "i", nargs, res)
      }
    procRows.toDF("oid", "proname", "prokind", "provolatile",
      "pronargs", "prorettype").createOrReplaceTempView("kb_proc")

    // operator rows: every binary proc whose family has a PG operator
    // symbol (arithmetic + modulo + comparison + bitwise); unary
    // um/abs/up map to prefix '-' / '@' / '+' with oprleft = 0 (PG's
    // prefix-operator convention). The special rows complete the
    // reference's 186-operator bootstrap (initdb/main.rs:464-650):
    // factorial postfix/prefix, root/power, bytea LIKE and concat.
    val binOps = (GF.arithProcs ++ GF.modProcs ++ GF.cmpProcs ++ GF.bitProcs)
      .flatMap { case (name, l, r, res) =>
        GF.opSymbol.get(name.replaceAll("^(int|float|bool|bytea)[0-9]*", ""))
          .map(sym => (sym, l, r, res, name))
      }
    val unOps = GF.unaryProcs.map { case (name, a, res) =>
      (if (name.endsWith("um")) "-" else "@", 0, a, res, name)
    } ++ GF.upProcs.map { case (name, a, res) => ("+", 0, a, res, name)
    } ++ GF.bitProcs.collect { // bitwise not: prefix '~'
      case (name, l, 0, res) => ("~", 0, l, res, name)
    }
    val specialOps = Seq(
      ("!", 20, 0, 1700, "numeric_fac"), // postfix factorial (op 388)
      ("!!", 0, 20, 1700, "numeric_fac"), // prefix factorial (op 389)
      ("|/", 0, 701, 701, "dsqrt"), // square root (op 596)
      ("||/", 0, 701, 701, "dcbrt"), // cube root (op 597)
      ("^", 701, 701, 701, "dpow"), // power (op 965)
      ("~~", 17, 17, 16, "bytealike"), // LIKE (op 2016)
      ("!~~", 17, 17, 16, "byteanlike"), // NOT LIKE (op 2017)
      ("||", 17, 17, 17, "byteacat")) // bytea concat (op 2018)
    (binOps ++ unOps ++ specialOps).zipWithIndex
      .map { case ((sym, l, r, res, code), i) => (30000 + i, sym, l, r, res, code) }
      .toDF("oid", "oprname", "oprleft", "oprright", "oprresult", "oprcode")
      .createOrReplaceTempView("kb_operator")
  }
}
