package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}
import graft.queries.Q

/** Profiles the catalog queries on the benchmark's input tables.
  *
  *  - mode `time`: one warm-up query, then two passes over the catalog with
  *    a noop sink and `clearCache` between queries, keeping each query's
  *    faster time;
  *  - mode `staging`: finds the queries that stage data under the system
  *    temp root (they read and write outside the benchmark's checkout).
  *    Before each query every directory this JVM staged is deleted, so a
  *    query that uses staged data either stages it again or fails.
  *
  * profile_catalog.py turns the output into the committed strata lists.
  *
  * Usage: graftbench.Profile <mode> <dataDir> <workDir> <out.json> <cpus>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(mode, data, work, out, cpus) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(Sessions.defaults)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val catalog = SparkEntry.catalog.sortBy(_.name)
    def once(q: Q): Either[String, Double] = {
      val t0 = System.nanoTime()
      val r = try {
        q.run(spark, data).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(200)) }
      spark.catalog.clearCache()
      r
    }
    val rows = mode match {
      case "time" =>
        once(catalog.head)
        val first = catalog.map(q => q.name -> once(q)).toMap
        catalog.map { q =>
          val t = (first(q.name), once(q)) match {
            case (Right(a), Right(b)) => Some(math.min(a, b))
            case (a, b) =>
              System.err.println(s"[profile] ${q.name} failed: ${a.left.toOption.orElse(b.left.toOption)}")
              None
          }
          Map("name" -> q.name, "seconds" -> t)
        }
      case "staging" =>
        val pid = ProcessHandle.current().pid()
        def staged(): Seq[File] = Option(new File("/tmp").listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("graft_"))
          .flatMap(d => Option(d.listFiles()).toSeq.flatten)
          .filter(_.getName.endsWith(s"-$pid"))
        catalog.map { q =>
          staged().foreach(deleteRecursively)
          val failed = once(q).isLeft
          Map("name" -> q.name, "staged" -> (failed || staged().nonEmpty))
        }
    }
    Files.writeString(Paths.get(out), Json(Map("cpus" -> cpus.toInt, "queries" -> rows)))
    spark.stop()
    System.exit(0)
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
