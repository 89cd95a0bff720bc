package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** No-silent-caps plumbing: queries that bound their work (e.g. the LSH
  * bucket cap in PipelineQueries.minhashPairs) publish drop counters as
  * `observe()` metrics named `graft_*`. This listener surfaces any
  * non-zero counter on stderr after each action, so a cap that actually
  * dropped data is always visible in driver/bench/verify logs — the
  * metrics ride the existing action (no extra job, unlike an eager
  * `count()` of the dropped rows).
  */
object GraftMetrics {
  private val MarkerKey = "spark.graft.metrics.registered"

  /** The `graft_*` observed metrics of an executed `qe`, each as its
    * (field, value) pairs in schema order; a null or non-numeric field
    * reads 0. */
  def counters(qe: QueryExecution): Seq[(String, Seq[(String, Long)])] =
    qe.observedMetrics.toSeq.collect { case (name, row) if name.startsWith("graft_") =>
      name -> row.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) =>
        f -> (if (row.isNullAt(i)) 0L else row.get(i) match {
          case n: Number => n.longValue()
          case _ => 0L
        })
      }
    }

  /** Idempotent per session: `Engine.session()` calls this on every
    * invocation but `getOrCreate` hands back the same SparkSession, so an
    * unguarded register would stack duplicate listeners (and duplicate
    * `[graft]` stderr lines) if a caller ever held sessions per-request.
    * The marker lives in the session conf, which is exactly as
    * session-scoped as the listener manager itself. */
  def register(spark: SparkSession): Unit = synchronized {
    if (spark.conf.getOption(MarkerKey).contains("true")) return
    spark.conf.set(MarkerKey, "true")
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        counters(qe).foreach { case (name, fields) =>
          if (fields.exists(_._2 != 0L))
            System.err.println(
              s"[graft] $name: ${fields.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }
}
