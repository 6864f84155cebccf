package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EntityResolution
import graft.testgen.WebCorpus

/**
 * A repeated op must reuse the classes the previous op compiled. One resolve
 * cycles through ~145 distinct generated classes; with Spark's default
 * 100-entry codegen cache (or a Spark upgrade that drops or renames
 * `spark.sql.codegen.cache.maxEntries`) the LRU never hits and every repeat
 * recompiles them all. Plans that mint new source text per call (an
 * `isEmpty`/`limit`, whose LocalLimit counter is named from a JVM-wide
 * sequence) miss any cache and show up here too.
 */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated resolve compiles no new generated class") {
    val root = Files.createTempDirectory("graft-codegen-reuse").toFile
    try {
      WebCorpus.pages(spark, 200).write.parquet(s"$root/pages")
      def resolveOnce(i: Int): Unit = {
        val work = s"$root/op-$i"
        val r = EntityResolution.resolve(spark.read.parquet(s"$root/pages"),
          EntityResolution.Config(workDir = Some(work)))
        r.integrated.write.parquet(s"$work/integrated_pages")
      }
      resolveOnce(0)
      val before = compilations
      resolveOnce(1)
      val compiled = compilations - before
      assert(compiled == 0, s"the repeated resolve compiled $compiled generated classes")
    } finally FileUtils.deleteQuietly(root)
  }
}
