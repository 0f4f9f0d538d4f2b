package perfbench

import java.nio.file.{Files, Paths}

/** Records the row count of every battery entry on the committed fixture
  * (`expected_rows.tsv`, the reference the battery checks compare
  * against). Run it on the commit whose outputs are the reference:
  *   python3 perfbench/run.py --record
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(work, fixture, out) = args
    val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val n = fn(spark, fixture).count()
      System.err.println(f"[record] $name%-40s $n%10d ${(System.nanoTime() - t0) / 1e9}%.2f s")
      s"$name\t$n"
    }
    Files.writeString(Paths.get(out),
      "# battery entry\trow count on perfbench/fixture/sf0.01\n" + rows.mkString("", "\n", "\n"))
    spark.stop()
  }
}
