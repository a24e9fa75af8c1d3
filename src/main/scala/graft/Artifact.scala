package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** A build-once artifact: `build(spark, key)` runs once per (session,
  * key) and every later call with that pair returns the first result —
  * the in-JVM form of the reference's "index once, then serve"
  * (reference dogsheep_beta/cli.py:33-41), so the declared queries
  * share one build per scale-factor dir.
  *
  * Lifetime: one build per session and key, kept as long as the JVM
  * (the serving model: artifacts live as long as the server). The
  * session is part of the key, so a second `SparkSession` in the same
  * JVM builds its own artifacts and never receives a frame bound to
  * another, possibly stopped, session. Nothing is evicted: dropping a
  * persisted artifact mid-query would recompute it from scratch inside
  * the query. A process cycling many corpora should scope one JVM per
  * corpus.
  *
  * Two threads asking for the same missing pair may both build; the
  * first result stored wins and both get it (`TrieMap.getOrElseUpdate`).
  */
final class Artifact[K, A](build: (SparkSession, K) => A) {
  private val built = TrieMap.empty[(SparkSession, K), A]

  def apply(spark: SparkSession, key: K): A =
    built.getOrElseUpdate((spark, key), build(spark, key))
}

object Artifact {
  def apply[K, A](build: (SparkSession, K) => A): Artifact[K, A] =
    new Artifact(build)
}
