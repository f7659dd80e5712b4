package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: spin up executors + codegen machinery and pull the input
    // files through the page cache once, so the first measured query
    // isn't charged for session startup.
    try {
      Seq("lineitem", "documents", "events", "orders", "customer")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    } catch { case _: Throwable => () }
    // A failing query must NOT silently contribute a normal-looking
    // timing: failures are reported in an `errors` map and their
    // elapsed time excluded from the total.
    // Each query is forced through the `noop` sink, which computes every
    // output column: a `.count()` lets Catalyst prune a projection-only
    // query down to a bare scan.
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    // Truncate BEFORE escaping (truncating after could split an escape
    // pair), and escape every control char — a tab or CR in a Spark
    // error message must not invalidate the whole bench JSON line.
    def esc(s: String) = s.take(200).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => s"\"" + k + "\":\"" + esc(m) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_failed":${results.count(_._3.isDefined)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
