package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-time installation of the DataFusion-compat function surface:
  *
  * {{{
  *   spark.sql.extensions = graft.GraftExtensions
  * }}}
  *
  * injects every [[DFCompat]] shim into each new session's function
  * registry — the idiomatic SparkSessionExtensions path, equivalent to
  * the reference registering its UDFs at session-create
  * (iceberg-datafusion-arrow-flight/src/lib.rs:106-128). Runtime
  * installation on an existing session remains available via
  * `DFCompat.install(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    DFCompat.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[DFCompat.type].getName, name),
        exprs => builder(exprs)))
    }
    // Whole-operator extension: plans graft.plans.TopKPerKeyNode (the
    // bounded-heap per-group top-k) on every session built with these
    // extensions; TopK.perKey also self-registers at runtime.
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // Stats-answered COUNT(*) and catalog metadata tables are
    // LocalScans: fold the operators above them on the driver.
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftaccess.LocalScans)
  }
}
