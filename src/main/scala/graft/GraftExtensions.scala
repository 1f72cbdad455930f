package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** The graft surface as a session extension: the scalar functions
  * (`GraftFunctions.sqlFunctions`), the index-served table functions
  * (`Serving.tableFunctions`) and the planner strategy of the as-of join
  * operator (`AsOfStrategy`). `Engine.session` builds every
  * session with it; a cluster deployment passes
  * `--conf spark.sql.extensions=graft.GraftExtensions` (plus
  * `Engine.SessionDefaults`) so every session of the application has the
  * same surface. This is the fmgr/catalog-bootstrap analogue (reference
  * src/bin/initdb wires functions into the catalog once; a Spark
  * application wires them via extensions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
    // The SQL-callable serving surface (index-served ANN / BM25 /
    // hybrid RRF table functions over the `serve_*` catalog tables
    // written by Serving.buildIndexes) — builders self-configure from
    // catalog state at call time, so static injection needs no driver
    // object. `Serving.install` is the runtime twin for other prefixes.
    Serving.tableFunctions(Serving.DefaultPrefix).foreach(ext.injectTableFunction)
    // AsOf.asofJoinPhysical's AsOfJoinNode -> AsOfJoinExec, planned by
    // every session of the application
    ext.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
  }
}
