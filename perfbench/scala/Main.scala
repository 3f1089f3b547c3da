package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the snapshot benchmark: one workload per process.
  *
  * Usage: `perfbench.Main <plan.properties>`. The plan (written by
  * run.py) names the workload, the staged inputs and the run settings;
  * the JVM writes `result.json` plus the outputs the oracle checks into
  * the plan's `out` directory. Tables and checkpoints live under the
  * plan's `data` directory and are deleted before the JVM exits.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val cores = plan.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the same aggregation threshold graft's own bench runs with: the
      // default sort-based fallback (4096 groups/partition) would push the
      // batch fold into sort aggregation at this key count
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${plan.str("data")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${plan.str("data")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    res.notes("session_ready_s") = f"${(Clock.epochUs() - plan.long("t0_us")) / 1e6}%.2f"
    val bench = new Bench(spark, plan, res)
    try {
      plan.str("workload") match {
        case "ingest_trickle" => bench.trickle()
        case "ingest_backlog" => bench.backlog()
        case "serve_replay" => bench.serve()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      try spark.stop()
      finally rmrf(new File(plan.str("data")))
    }
    res.write(s"${plan.str("out")}/result.json")
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
    ()
  }
}

/** The run plan: a java.util.Properties file. */
final class Plan(p: Properties) {
  def str(k: String): String =
    Option(p.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"plan lacks '$k'"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def bool(k: String): Boolean = str(k) == "1"
}

object Plan {
  def load(path: String): Plan = {
    val p = new Properties
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    new Plan(p)
  }
}

/** What the JVM reports: counts, metrics by name, and free-form notes. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def write(path: String): Unit = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < 0x20 => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val body = Seq(
      s""""attempted": $attempted""",
      s""""failed": $failed""",
      metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(""""metrics": {""", ", ", "}"),
      notes.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(""""notes": {""", ", ", "}"))
    val w = new PrintWriter(path, "UTF-8")
    try w.println(body.mkString("{", ", ", "}")) finally w.close()
  }
}

object Clock {
  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Io {
  def writeLines(path: String, lines: Iterator[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
