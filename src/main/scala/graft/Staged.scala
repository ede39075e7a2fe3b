package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** A staged query's one-time half — a scratch warehouse, a persisted
  * index or a landed fixture — made from (session, data dir). `key` names
  * it in Bench's `setup_sec`; queries that declare the same build share
  * one result. A build may extend a `parent` build (q148's replica is
  * bootstrapped from q106's warehouse), which is resolved first.
  */
final class Build[B] private (
    val key: String,
    val parent: Option[Build[_]],
    val run: (SparkSession, String, Builds) => B)

object Build {
  def apply[B](key: String)(f: (SparkSession, String) => B): Build[B] =
    new Build(key, None, (s, d, _) => f(s, d))

  def on[A, B](key: String, parent: Build[A])(f: (SparkSession, A) => B): Build[B] =
    new Build(key, Some(parent), (s, _, get) => f(s, get(parent)))
}

/** A registry query split into a one-time [[Build]] and a per-invocation
  * serve over its result. `fused` is the registry's answer: every build
  * made fresh, then served once — what Verify and the oracle gate check.
  * `over` serves the results a longer-lived [[Builds]] keeps, which is
  * how Bench times only the serve.
  */
final class Staged[B] private (val build: Build[B], val serve: (SparkSession, String, B) => DataFrame) {
  val fused: (SparkSession, String) => DataFrame =
    (s, d) => serve(s, d, new Builds(s, d)(build))

  def over(get: Builds): (SparkSession, String) => DataFrame =
    (s, d) => serve(s, d, get(build))
}

object Staged {
  def apply[B](build: Build[B])(serve: (SparkSession, String, B) => DataFrame): Staged[B] =
    new Staged(build, serve)
}

/** Builds kept by key for one session and data dir: each runs once, and
  * its result — or its failure, rethrown to every query that needs it —
  * is kept with its wall seconds. A parent is resolved before the child's
  * timer starts, so each entry times that build alone.
  */
final class Builds(spark: SparkSession, dir: String) {
  private val done = scala.collection.mutable.LinkedHashMap.empty[String, (Try[Any], Double)]

  def apply[A](b: Build[A]): A = {
    if (!done.contains(b.key)) {
      b.parent.foreach(apply(_))
      val t0 = System.nanoTime()
      val r = Try(b.run(spark, dir, this))
      done(b.key) = (r, (System.nanoTime() - t0) / 1e9)
    }
    done(b.key)._1 match {
      case Success(v) => v.asInstanceOf[A]
      case Failure(e) => throw new IllegalStateException(s"build ${b.key} failed: ${e.getMessage}", e)
    }
  }

  /** (key, wall seconds) of every build that succeeded, in run order. */
  def seconds: Seq[(String, Double)] = done.toSeq.collect { case (k, (Success(_), t)) => k -> t }
}
