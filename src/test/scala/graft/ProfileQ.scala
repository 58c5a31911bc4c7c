package graft

/** Per-query profile: sbt "Test/runMain graft.ProfileQ <name>[,<name>…] [sfDir]",
  * a name being a query's full name or its id before the first `_`
  * (`pipe1s`, `d2`). Bench's session ([[Bench.session]]); each query
  * runs twice through the noop sink, like the bench, and the faster
  * run's [[Trace]] report is printed — wall split into payload and fixed
  * cost, then one line per action naming the engine line that ran it —
  * followed by its five slowest actions. */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: ProfileQ <query>[,<query>…] [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = SparkEntry.queries.collectFirst {
        case (q, f) if q == name || q.startsWith(name + "_") => f
      }.getOrElse(sys.error(s"ProfileQ: no query named $name"))
      def once(): Trace.Report = {
        val r = Trace.measure(spark)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
        r
      }
      val best = Seq(once(), once()).minBy(_.wallMs)
      println(best.render(s"PROFQ $name (faster of 2)"))
      println(s"PROFQ $name five slowest actions:")
      Trace.rows(best.actions.sortBy(-_.wallMs).take(5), best.cores)
        .foreach(println)
    }
    spark.stop()
  }
}
