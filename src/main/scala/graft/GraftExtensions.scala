package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graft.Kernels

/** SQL install point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`) makes
  * every graft native kernel ([[Kernels.sqlFunctions]]) callable by name
  * from SQL in that session. Library code needs neither: it builds the
  * kernels through the typed [[Kernels]] Column builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    Kernels.sqlFunctions.foreach { case (name, info, build) =>
      ext.injectFunction((FunctionIdentifier(name), info, build))
    }
}
