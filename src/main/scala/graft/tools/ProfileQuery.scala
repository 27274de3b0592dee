package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch profiling harness (not part of the library surface): runs
  * ONE registered query twice and decomposes its wall into
  *   build  — fn(spark, dir) DataFrame construction, including any
  *            eager jobs the query runs while being built
  *            (checkpoints, adaptive counts, iterative loops);
  *   exec   — the noop-sink action itself;
  * and prints the wall time of every Spark job of 20 ms or more.
  * Run 2 reuses warmed codegen/JIT, so (run1 − run2) ≈ the
  * first-execution overhead (janino compile + interpreted warmup) the
  * REPS=1 driver bench pays.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQuery q231"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prefixes = args.headOption
      .getOrElse(sys.error("usage: ProfileQuery <qNN>[,<qNN>...]")).split(",")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = graft.Session.local()
    val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val targets = prefixes.toSeq.map(p => all.find(_._1.startsWith(p))
      .getOrElse(sys.error(s"no query starts with $p")))
    // same warmup as Bench
    graft.SparkEntry.entry(spark).count()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.get(je.jobId)
        if (st != null)
          done.add((je.jobId, (je.time - st._1) / 1e3, st._2))
      }
    })
    targets.foreach { case (name, fn) =>
      (1 to reps).foreach { rep =>
        done.clear()
        System.gc()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val t3 = System.nanoTime()
        // ensure listener events drained before printing jobs
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val js = done.asScala.toSeq.sortBy(_._1)
        val sum = js.map(_._2).sum
        println(f"[profile] $name rep=$rep build=${(t1 - t0) / 1e9}%.3f " +
          f"exec=${(t2 - t1) / 1e9}%.3f unpersist=${(t3 - t2) / 1e9}%.3f " +
          f"total=${(t3 - t0) / 1e9}%.3f jobs=${js.size} jobwall=$sum%.3f")
        js.foreach { case (id, w, d) =>
          if (w >= 0.02)
            println(f"[profile]   job $id%3d $w%7.3f  ${d.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
