package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The cross-call state that belongs to one SparkSession: the frames
  * [[graft.api.GraftOps]]'s reuse materializer pinned, and the
  * materialized views registered with [[graft.plans.MvCatalog]]. Two
  * sessions in one JVM (`spark.newSession()`) therefore neither release
  * each other's frames nor rewrite against each other's views.
  *
  * Held per session in a weak-keyed map, so a session its caller drops
  * takes its state with it (a pinned frame references its session, so
  * a session keeps its entry until its frames are released).
  */
private[graft] final class PerSession private {
  /** Frames pinned since the last release (an identity set). */
  val pinned: java.util.Set[DataFrame] =
    java.util.Collections.newSetFromMap(new ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Registered views by name. */
  val views = new ConcurrentHashMap[String, graft.plans.MvCatalog.MvView]()

  /** The rewrite rule over [[views]], installed on the first registration. */
  val mvRule = new graft.plans.MvRewrite(views)
}

private[graft] object PerSession {
  private val states = new java.util.WeakHashMap[SparkSession, PerSession]()

  def apply(s: SparkSession): PerSession =
    states.synchronized(states.computeIfAbsent(s, _ => new PerSession))
}
