package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: install the graft native functions
  * ([[GraftFunctions.natives]], the one table) into any SparkSession
  * via configuration — `--conf spark.sql.extensions=graft.GraftExtensions`
  * — the standard deployment hook for cluster-wide availability (no
  * code changes in user jobs). The SQL-UDF helpers (graft_clean_name,
  * graft_haversine_km) still register per-session via
  * [[GraftFunctions.register]] since SQL UDFs are session-scoped.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.natives.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
}
