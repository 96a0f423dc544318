package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extensions entry point — the deployment-grade way to load the
  * engine's SQL functions on every session of a cluster:
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * injects every name of [[graft.functions.SqlSurface.functions]] (the
  * native kernels such as `vec_dot`, the composed text/vector/sampling
  * library, `hmac_sha256`) into the function registry at session build
  * time. `SqlSurface.register` registers the same table on a session
  * created without the config. DataFrame plans need neither: the Scala
  * builders wrap their expressions directly as Columns.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.SqlSurface.functions.foreach { case (name, fb) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.SqlSurface", name), fb))
    }
}
