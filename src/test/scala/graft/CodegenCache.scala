package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.sparkproject.guava.cache.LoadingCache

/** Test-side view of Spark's codegen cache (the private `cache` of
  * `CodeGenerator`, read through reflection). A key is a (class loader,
  * generated source) pair, so a class compiled on the driver thread is
  * compiled again under the executor's loader. */
object CodegenCache {

  private lazy val cache = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val c = m.invoke(CodeGenerator) // a NonFateSharingLoadingCache, private[spark]
    c.getClass.getMethod("loadingCache").invoke(c)
      .asInstanceOf[LoadingCache[(java.lang.ref.Reference[ClassLoader], CodeAndComment), _]]
  }

  /** Drops every cached class, so the next use of each source compiles. */
  def clear(): Unit = cache.invalidateAll()

  /** The cached keys, as (class loader, source body). */
  def keys(): Seq[(ClassLoader, String)] =
    cache.asMap().keySet().asScala.toSeq.map { case (ref, code) => (ref.get(), code.body) }

  /** Classes compiled (cache misses) while `body` runs. */
  def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }
}
