package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan half of the refactor-identity check: for each named key (or
  * every key of a named module), build the key's DataFrame over an sf
  * directory and write `{key: masked plans}` JSON, one string per key
  * holding the canonicalized optimized plan, a `----` line and the raw
  * optimized plan. Two dumps (parent, change) compare with
  * `tools/oracle_diff.py <old.json> <new.json>`.
  *
  * Run: `sbt "Test/runMain graft.PlanDump <sfDir> <out.json> <key|module>,..."`
  * Modules: Relational, EngineOps, Text, Vectors, Multimodal,
  * StreamingOps, Bucketing, Pipeline.
  *
  * Masked before writing (they vary run to run or by checkout): the
  * checkout root, `#N` expression ids, `plan_id=N`, `QueryStage N`,
  * `*(N)` codegen stage ids, lambda variable names (`x_123`) and object
  * hashes (`@7b80be13`). A key whose canonical text flips the
  * orientation of a commutative comparison between two parent dumps is
  * judged by its raw text. A streaming key's DataFrame is the sink
  * read-back, so its plan says nothing about the stream, and a key that
  * builds on a fresh per-call path shows that path in its scan.
  */
object PlanDump {
  private val modules: Map[String, Seq[ops.QueryDef]] = Map(
    "Relational" -> ops.Relational.defs, "EngineOps" -> ops.EngineOps.defs,
    "Text" -> ops.Text.defs, "Vectors" -> ops.Vectors.defs,
    "Multimodal" -> ops.Multimodal.defs,
    "StreamingOps" -> ops.StreamingOps.defs,
    "Bucketing" -> ops.Bucketing.defs, "Pipeline" -> ops.Pipeline.defs)

  private[graft] def mask(plan: String, root: String): String = plan
    .replace(root, "<root>")
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("QueryStage \\d+", "QueryStage N")
    .replaceAll("\\*\\(\\d+\\)", "*(N)")
    .replaceAll("\\b(x|y|z|i|j|k|v|acc|elem|key|value)_\\d+\\b", "$1_N")
    .replaceAll("@[0-9a-f]{4,}", "@H")

  def main(args: Array[String]): Unit = {
    val (sfDir, out) = (args(0), args(1))
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
      .flatMap(k => modules.get(k).map(_.map(_.name)).getOrElse(Seq(k)))
      .distinct
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = Paths.get("").toAbsolutePath.toString
    val fns = SparkEntry.queries
    val plans = keys.map { k =>
      val text =
        try {
          val qe = fns(k)(spark, sfDir).queryExecution
          mask(qe.optimizedPlan.canonicalized.toString + "\n----\n" +
            qe.optimizedPlan.toString, root)
        } catch { case e: Throwable => s"FAILED: ${e.getClass.getName}" }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      k -> text
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(out),
      plans.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    println(s"[plandump] ${plans.size} keys -> $out")
    spark.stop()
  }
}
