package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** Checks that an operation never changes its caller's session conf, not
  * even for an instant: a second thread samples the keys continuously
  * while the operation runs, as a query planning concurrently on the same
  * session would observe them. */
object ConfSampler {

  /** Run `body` while another thread reads `keys` on `spark` every
    * millisecond; fails if any read, or the read after `body`, differs from
    * the value before it.  Returns `body`'s result. */
  def assertNoDrift[T](spark: SparkSession, keys: Seq[String], what: String)
                      (body: => T): T = {
    val before = keys.map(k => k -> spark.conf.get(k)).toMap
    @volatile var done = false
    @volatile var drift: Option[String] = None
    val sampler = new Thread(() => {
      while (!done && drift.isEmpty) {
        keys.foreach { k =>
          val v = spark.conf.get(k)
          if (v != before(k)) drift = Some(s"$k: ${before(k)} -> $v")
        }
        Thread.sleep(1)
      }
    })
    sampler.start()
    val out = try body finally { done = true; sampler.join() }
    assert(drift.isEmpty,
      s"caller-session conf drifted during $what: ${drift.getOrElse("")}")
    assert(keys.map(k => k -> spark.conf.get(k)).toMap === before)
    out
  }
}
