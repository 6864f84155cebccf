package graft.tools

/** Dev tool: dump formatted physical plans for plan-quality review
  * (pushdown, broadcast choice, codegen spans).
  * Usage: `ExplainProbe <sf-dir> <query-name>...` */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainProbe <sf-dir> <query-name>...")
    val spark = graft.GraftSession.create(Runtime.getRuntime.availableProcessors, "graft-explain")
    for (name <- args.tail) {
      println(s"========== $name ==========")
      graft.SparkEntry.queries(name)(spark, args.head).explain("formatted")
    }
    spark.stop()
  }
}
