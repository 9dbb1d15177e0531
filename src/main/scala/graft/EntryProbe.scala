package graft
object EntryProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    for (sf <- args.headOption.map(_.split(",").toSeq).getOrElse(Seq("sf0.001", "sf0.01"));
         name <- args.drop(1)) {
      val df = SparkEntry.queries(name)(spark, s"/root/testdata/$sf")
      println(s"ENTRYPROBE $sf $name rows=${df.count()}")
      df.show(sys.env.getOrElse("ENTRYPROBE_ROWS", "10").toInt, truncate = false)
    }
    spark.stop()
  }
}
