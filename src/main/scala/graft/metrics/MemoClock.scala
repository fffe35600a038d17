package graft.metrics

import java.util.concurrent.atomic.AtomicLong

/** Cumulative per-JVM memo-build clock: [[graft.Memo]] runs every build
  * of a scratch table or in-driver artifact (trainer vocabularies,
  * shingle/phash/banded-pair index tables, wire-format corpora, model
  * sketches) inside [[timed]], and nothing else calls it. The bench emits
  * the accumulated seconds as `memo_build_s` in its JSON line, and
  * perfbench reports them per run as `memo.build_s` / `memo.builds`. The
  * suite's warmup + min-of-3 methodology pays each build once (in
  * warmup) and excludes it from every timed sample; this counter makes
  * that seam AUDITABLE instead of invisible: steady-state seconds and
  * one-time build seconds ship side by side.
  *
  * Nested builds (one memo's build looking up another — e.g. the
  * incremental cluster table building the shingle table) count once, at the OUTERMOST
  * frame, so the total is wall seconds spent building, never
  * double-booked. A build that throws still counts. Thread-safe:
  * concurrent distinct builds each add their own outermost span (the
  * total is then "build-seconds", which can exceed wall on parallel
  * warmups — the honest unit for an amortization audit). */
object MemoClock {
  private val totalNs = new AtomicLong(0L)
  private val builds = new AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def timed[A](body: => A): A = {
    val d = depth.get()
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try body
    finally {
      depth.set(d)
      if (d == 0) {
        totalNs.addAndGet(System.nanoTime() - t0)
        builds.incrementAndGet()
      }
      ()
    }
  }

  /** Total outermost build seconds accumulated in this JVM. */
  def totalS: Double = totalNs.get() / 1e9

  /** Number of outermost builds. */
  def count: Long = builds.get()
}
