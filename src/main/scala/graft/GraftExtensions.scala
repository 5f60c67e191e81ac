package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark extensions entry point: registers the engine's custom SQL
  * functions at session build time, so cluster users get them via
  * `--conf spark.sql.extensions=graft.GraftExtensions` without any code.
  * It walks [[functions.sqlFunctions]], the same table
  * [[functions.registerAll]] walks for local sessions.
  *
  * (The Zarr source/sink needs no extension — it registers through the
  * DataSourceRegister service loader.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
