package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * time base as Spark's listener events (which carry epoch milliseconds). */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Result {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Kind of the operations of set-up and warm-up: checked and counted as
    * attempted, but not part of any latency or throughput. */
  val Warmup = "warmup"
}

/** Everything one run observed, written as one JSON document at exit.
  * Thread-safe: closed-loop clients record operations concurrently. */
final class Result {
  private val fields = new java.util.LinkedHashMap[String, Any]()
  private val ops = new ConcurrentLinkedQueue[Seq[Any]]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val failed = new AtomicLong()
  private val checks = new java.util.LinkedHashMap[String, Any]()

  def put(key: String, value: Any): Unit = fields.synchronized(fields.put(key, value))

  /** One measured operation: its kind, start and end (epoch ms), whether it
    * fell in a traced slice, whether it succeeded, and the units of work
    * it completed (rows for a drop, 1 for a request). */
  def op(kind: String, t0: Double, t1: Double, traced: Boolean, ok: Boolean,
         units: Long = 1L): Unit = {
    ops.add(Seq(kind, t0, t1, if (traced) 1 else 0, if (ok) 1 else 0, units))
    if (!ok) failed.incrementAndGet()
  }

  /** Record why something failed (the first few kept verbatim). A failed
    * operation is counted by `op`; `count` counts a failure outside one. */
  def fail(where: String, why: String, count: Boolean = false): Unit = {
    if (failures.size < 20) failures.add(s"$where: ${why.take(400)}")
    if (count) failed.incrementAndGet()
  }

  /** An end-of-run output check; a failed one counts as a failure. */
  def check(name: String, problem: Option[String]): Unit = {
    checks.synchronized(checks.put(name, problem.getOrElse("ok")))
    problem.foreach(p => fail(s"check $name", p, count = true))
  }

  def json: String = {
    val all = new java.util.LinkedHashMap[String, Any]()
    fields.synchronized(all.putAll(fields))
    all.put("ops", ops.asScala.toSeq)
    all.put("failed", failed.get())
    all.put("failures", failures.asScala.toSeq)
    checks.synchronized(all.put("checks", new java.util.LinkedHashMap[String, Any](checks)))
    Result.mapper.writeValueAsString(all)
  }
}
