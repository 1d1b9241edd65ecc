package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compilations — Spark codegen-cache misses — counted around a
  * body. The counter is JVM-wide, so the count is exact only while nothing
  * else compiles (suites run one at a time in the forked test JVM).
  *
  * {{{
  *   Compilations.count(searcher.bm25TopKWand("go ruby", 10).collect())
  * }}}
  */
object Compilations {
  def count(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
