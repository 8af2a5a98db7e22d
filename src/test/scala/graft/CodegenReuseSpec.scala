package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated-class reuse across repeated passes over the corpus steps.
  * Spark caches each class it compiles, keyed by the generated source, in
  * an LRU cache of `spark.sql.codegen.cache.maxEntries` entries. A cache
  * smaller than the classes one pass needs hits nothing when the passes
  * cycle, so every pass recompiles with Janino and re-JITs from cold.
  * `Graft.CodegenCacheEntries` sizes the cache above that working set; at
  * Spark's default of 100 the repeat passes here recompile almost every
  * class the first pass compiled.
  *
  * A warm pass can still compile a few new classes: when both sides of a
  * join fit under the broadcast threshold, AQE builds on whichever side's
  * shuffle stage finished first, so q138's join can swap its build side
  * and generate a new kernel. The bound therefore takes the smaller of the
  * two repeat passes.
  */
class CodegenReuseSpec extends SparkTestBase {

  private val steps =
    Seq("q14_simhash", "q123_lm_score", "q138_unigram_segment", "q16_ann_topk")

  test("repeat passes over the corpus steps reuse their generated classes") {
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val passes = (1 to 3).map { _ =>
      val before = compiles
      val answers = steps.map { s =>
        val rows = SparkEntry.queries(s)(spark, sf001).collect()
          .map(_.toString).sorted.toSeq
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        s -> rows
      }.toMap
      (compiles - before, answers)
    }
    val counts = passes.map(_._1)
    info(s"Janino compiles per pass: ${counts.mkString(", ")}")
    assert(counts.head > 0, s"Janino compiles per pass: $counts")
    assert(counts.tail.min * 10 <= counts.head,
      s"Janino compiles per pass: $counts (a repeat pass may compile at " +
        "most 10 % of the first pass's classes)")
    for ((pass, i) <- passes.zipWithIndex.tail; s <- steps)
      assert(pass._2(s) == passes.head._2(s), s"$s answered differently in pass ${i + 1}")
  }
}
