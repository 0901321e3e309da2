package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** TailLoop / Recur value IR (reference `expr/ir/defs` TailLoop, ir-gen
  * `Main.scala:647,660`): bounded per-row iteration to a fixpoint. The
  * reference uses it inside generated code for iterative per-row
  * numerics (EM loops, Newton steps); here the same surface is a typed
  * Scala kernel applied per row — a deliberate trade: the step function
  * is arbitrary JVM code, the loop is driver-authored, and Catalyst
  * treats the whole thing as one scalar function.
  *
  * Termination mirrors the reference's loop contract: continue while
  * some coordinate moved MORE than `tol` — a NaN delta compares false
  * and exits (the haplotype-EM lesson), and `maxIter` bounds divergent
  * inputs. */
object Iterate {

  /** Iterate `step` from a per-row initial state until no coordinate
    * moves more than `tol`, or `maxIter` steps. */
  def fixpoint(step: Array[Double] => Array[Double], tol: Double = 1e-10,
      maxIter: Int = 1000): UserDefinedFunction =
    udf { (init: Seq[Double]) =>
      var p = init.toArray
      var it = 0
      var continue = true
      while (continue && it < maxIter) {
        val n = step(p)
        continue = p.indices.exists(i => math.abs(n(i) - p(i)) > tol)
        p = n
        it += 1
      }
      p.toSeq
    }
}
