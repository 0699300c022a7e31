package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.api.SiddhiQL

/** How an op's result is checked, outside the timed section. */
sealed trait Check
/** equal to the batch twin computed in the same process */
final case class Twin(run: (SparkSession, String) => DataFrame) extends Check
/** equal to `SparkEntry.oracleSql(key)` run by DuckDB on the same files */
final case class Oracle(key: String) extends Check
/** equal to the connected components of the `dedup_minhash_lsh` oracle
  * pairs on the op's own input directory; the registry's own
  * recursive-CTE oracle takes minutes in DuckDB at any corpus size where
  * the op does real work */
case object ComponentsOfOraclePairs extends Check

/** One timed call into the program.
  *
  * @param kind   "deploy" (`SiddhiQL.deployApp`), "compile"
  *               (`SiddhiQL.compileApp`) or "registry" (`SparkEntry.queries`)
  * @param input  the generated input whose rows the op consumes: a table
  *               of the input directory, or `paths`, the path-shaped
  *               document corpus in its `paths/` subdirectory
  * @param plan   the call itself, given the input directory; returns the
  *               result DataFrame, which the bench then collects */
final case class Op(name: String, kind: String, family: String, input: String,
                    plan: (SparkSession, String) => DataFrame, check: Check)

object Workloads {
  def deploy(app: App, chunks: Int): Op =
    Op(app.name, "deploy", app.family, "events",
      (s, d) => app.post(SiddhiQL.deployApp(s, d, app.text, app.out, chunks)),
      Twin(compile(app).plan))

  def compile(app: App): Op =
    Op(app.name, "compile", app.family, "events",
      (s, d) => app.post(SiddhiQL.compileApp(s, d, app.text)(app.out)),
      Oracle(app.gate))

  def registry(name: String, family: String, input: String): Op =
    Op(name, "registry", family, input, SparkEntry.queries(name),
      Oracle(name))

  /** Subdirectory of the input directory holding the path-shaped corpus,
    * and the name of the oracle's minhash pairs on it. */
  val Paths = "paths"
  val PathPairs = s"dedup_minhash_lsh@$Paths"

  /** Micro-batches per live deployment in the timed section, and in the
    * warm-up on its tiny input. */
  val LiveChunks = 4
  val WarmChunks = 2

  /** The ops of a workload, in the fixed order of one cycle. */
  def ops(workload: String, chunks: Int = LiveChunks): Seq[Op] =
    workload match {
      case "live" => Apps.all.map(deploy(_, chunks))
      case "batch" =>
        Apps.all.map(compile) ++ Seq(
          registry("sql_join_named_window", "apps", "events"),
          registry("sql_incremental_pctl", "apps", "events"),
          // on the path-shaped chains, where chain length sets the
          // rounds of its fixpoint
          registry("dedup_components", "corpus", Paths).copy(
            plan = (s, d) => SparkEntry.queries("dedup_components")(
              s, s"$d/$Paths"),
            check = ComponentsOfOraclePairs),
          registry("dedup_minhash_lsh", "corpus", "documents"),
          registry("sim_semdedup", "corpus", "embeddings"),
          registry("sim_topk_srp", "corpus", "embeddings"))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected live or batch)")
    }

  /** The oracle answers the checker needs for a workload's ops: the
    * answer's name -> (oracle key, input subdirectory it runs on). */
  def oracles(ops: Seq[Op]): Map[String, (String, String)] =
    ops.flatMap(_.check match {
      case Oracle(k) => Seq(k -> (k, ""))
      case ComponentsOfOraclePairs =>
        Seq(PathPairs -> ("dedup_minhash_lsh", Paths))
      case _ => Nil
    }).toMap
}
