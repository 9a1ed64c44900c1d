package perfbench

import scala.collection.mutable
import graft.streaming.{JobQueue, JobRequest, JobResult}

/** One request the benchmark sent, with the times that define its
  * latency. Times are epoch microseconds ([[Trace.nowUs]]). */
final class Req(val request: JobRequest, val iteration: Int,
    val traced: Boolean) {
  /** When it was due: the batch start in a closed loop, the schedule
    * slot in an open loop. */
  var due = 0L
  /** When it was handed to the queue. */
  var sent = 0L
  /** When its result first appeared in `JobQueue.results`; -1 if never.
    * Set by the watcher thread, read by the generator. */
  @volatile var seen = -1L
  var status = 0
  var rows = 0L
  var error = ""

  def key: (String, Long, Long) = Req.key(request.kind, request.cx,
    request.cy, request.tx, request.ty)

  def json: Map[String, Any] = Map("kind" -> request.kind,
    "cx" -> request.cx, "cy" -> request.cy, "iteration" -> iteration,
    "traced" -> traced, "due" -> due, "sent" -> sent, "seen" -> seen,
    "status" -> status, "rows" -> rows, "error" -> error)
}

object Req {
  def key(kind: String, cx: Long, cy: Long, tx: Long, ty: Long)
      : (String, Long, Long) =
    if (kind == "tile") (kind, tx, ty) else (kind, cx, cy)
}

/** Stamps each result with the time it first appears in
  * `JobQueue.results`, polling every millisecond, and matches it to the
  * oldest outstanding request with the same key. */
final class ResultWatch(jq: JobQueue) {
  private val pending = mutable.HashMap.empty[(String, Long, Long),
    mutable.Queue[Req]]
  private var prev: List[JobResult] = Nil
  private var answered = 0
  private var unmatched = 0
  @volatile private var running = true

  private val thread = new Thread(() =>
    while (running) { poll(); Thread.sleep(1) }, "perfbench-result-watch")
  thread.setDaemon(true)
  thread.start()

  def expect(r: Req): Unit = synchronized {
    pending.getOrElseUpdate(r.key, mutable.Queue.empty) += r
  }

  def poll(): Unit = synchronized {
    val cur = jq.results
    if (cur ne prev) {
      val now = Trace.nowUs()
      var n = cur
      val fresh = mutable.ListBuffer.empty[JobResult]
      while ((n ne prev) && n.nonEmpty) { fresh.prepend(n.head); n = n.tail }
      prev = cur
      fresh.foreach { res =>
        pending.get(Req.key(res.kind, res.cx, res.cy, res.tx, res.ty))
          .filter(_.nonEmpty).map(_.dequeue()) match {
          case Some(r) =>
            r.seen = now; r.status = res.status; r.rows = res.rows
            r.error = res.error
            answered += 1
          case None => unmatched += 1
        }
      }
    }
  }

  def answeredCount: Int = synchronized(answered)
  def unmatchedCount: Int = synchronized(unmatched)

  def stop(): Unit = {
    running = false
    thread.join()
    poll()
  }
}
