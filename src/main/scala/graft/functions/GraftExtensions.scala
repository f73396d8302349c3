package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extensions packaging for the engine's native functions:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * installs every [[Native]] function at session build time — the
  * deployment-grade alternative to the per-call `Native.register`
  * (which remains for ad-hoc sessions the library doesn't construct,
  * and installs only the functions a session lacks). This is the same
  * injection point a custom Rule/SparkStrategy would use if an operator
  * ever outgrows expressions (SURVEY §7.3 found none necessary).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Native.functions.foreach(ext.injectFunction)
}
