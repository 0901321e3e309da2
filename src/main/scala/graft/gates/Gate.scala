package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: `run` builds the Spark answer from the parquet tables
  * of an sf directory, `oracleSql` is the DuckDB SQL that computes the
  * same rows from the same tables. The oracle text is built on first use,
  * so `SparkEntry.queries` builds none of it: one oracle inverts a matrix
  * with Breeze, whose native-library probe alone takes over a second. */
final class Gate(val name: String,
    val run: (SparkSession, String) => DataFrame, oracle: => String) {
  lazy val oracleSql: String = {
    val sql = oracle
    require(sql.trim.nonEmpty, s"gate $name has no oracle SQL")
    sql
  }
}

object Gate {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: => String): Gate = new Gate(name, run, oracleSql)

  /** The gates of `families`, in order. A name defined twice is an error:
    * keyed into a map, the second definition would silently drop the
    * first gate. */
  def registry(families: Seq[Gate]*): Seq[Gate] = {
    val gates = families.flatten
    val repeated = gates.groupBy(_.name).collect {
      case (n, gs) if gs.size > 1 => n
    }
    require(repeated.isEmpty,
      s"gate names defined more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }

  /** The registered gates named in `names`, a comma-separated list, in
    * registry order; an empty list selects every gate. A name that is not
    * a registered gate is an error that names it, so a typo cannot run an
    * empty or partial fleet. `from` is the registry. */
  def select(names: String, from: Seq[Gate] = graft.SparkEntry.gates)
      : Seq[Gate] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- from.map(_.name)
    require(unknown.isEmpty,
      s"not a registered gate: ${unknown.toSeq.sorted.mkString(", ")}")
    if (wanted.isEmpty) from else from.filter(g => wanted(g.name))
  }
}
