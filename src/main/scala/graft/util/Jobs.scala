package graft.util

import org.apache.spark.sql.SparkSession

/** Job descriptions for the UI, listeners and profilers (guide §1.5): the
  * one place a label is set. Labels nest — a declared key labels its
  * run, each phase inside it labels its own jobs — so every job reads
  * `key:phase`. The nesting is a thread-local Spark property, which a
  * streaming query's thread inherits from the thread that started it, so
  * a phase inside a micro-batch still carries its key. */
object Jobs {

  private val Scope = "graft.jobScope"
  private val Description = "spark.job.description"

  /** Run `body` with every Spark job it starts described as the
    * enclosing labels and `label`, joined by `:`; the previous
    * description and scope are restored on every exit path. */
  def labeled[T](s: SparkSession, label: String)(body: => T): T = {
    val sc = s.sparkContext
    val outer = sc.getLocalProperty(Scope)
    val prevDesc = sc.getLocalProperty(Description)
    val scope = Option(outer).fold(label)(o => s"$o:$label")
    sc.setLocalProperty(Scope, scope)
    sc.setJobDescription(scope)
    try body
    finally {
      sc.setLocalProperty(Scope, outer)
      sc.setJobDescription(prevDesc)
    }
  }
}
