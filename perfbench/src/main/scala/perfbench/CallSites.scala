package perfbench

/** Attribution of Spark jobs to graft's modules from the call site Spark
  * records for each job (the long form is a stack, innermost frame first).
  */
object CallSites {

  private val ModuleFrame = """^graft\.([a-z][a-z0-9_]*)\.""".r
  private val RootFrame = """^graft\.[A-Z]""".r

  /** The module of the first `graft.` frame: `graft.ext.Graph$.pageRank(...)`
    * is `ext`; a class directly in package `graft` (the pipeline, the
    * session) is `graft`; a job with no graft frame (the benchmark's own
    * forced writes and checks) is `none`.
    */
  def module(longForm: String): String =
    Option(longForm).getOrElse("").linesIterator.map(_.trim).collectFirst {
      case l if ModuleFrame.findFirstIn(l).isDefined =>
        ModuleFrame.findFirstMatchIn(l).get.group(1)
      case l if RootFrame.findFirstIn(l).isDefined => "graft"
    }.getOrElse("none")

  private val OpenMethods = Set("parquet", "csv", "orc", "json", "load", "table")

  /** A table-open job: schema inference or file listing, which Spark runs
    * under the reader method the program called (`parquet at Q.scala:24`).
    */
  def isTableOpen(shortForm: String): Boolean =
    Option(shortForm).exists(s => OpenMethods.contains(s.takeWhile(_ != ' ')) &&
      s.contains(" at "))
}
