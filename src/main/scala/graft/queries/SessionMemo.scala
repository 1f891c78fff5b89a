package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A value computed once per (session, key). Weak session keys: a
  * stopped-and-dropped session must not be pinned by the memo.
  */
private[queries] final class SessionMemo[V] {
  private val bySession =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, V]]()

  def apply(s: SparkSession, key: String)(mk: => V): V = {
    val perSession = bySession.synchronized(
      bySession.computeIfAbsent(s, _ => mutable.Map.empty[String, V]))
    perSession.synchronized(perSession.getOrElseUpdate(key, mk))
  }
}
