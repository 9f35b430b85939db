package graft

/** Dev tool: print the formatted physical plan for one or more
  * registered queries — `runMain graft.Explain q1 [q2 ...]` (env
  * SPARK_GRAFT_SF_DIR selects the data, default sf0.001). Reading the
  * plan you SHIPPED beats trusting the plan you intended.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftConf.session("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    val qmap = SparkEntry.queries
    args.foreach { name =>
      qmap.get(name) match {
        case Some(fn) =>
          println(s"===== $name =====")
          fn(spark, sfDir).explain("formatted")
        case None => println(s"===== $name: NOT FOUND =====")
      }
    }
    spark.stop()
  }
}
