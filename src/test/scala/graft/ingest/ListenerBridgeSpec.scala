package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

import graft.model.ProgressEvent

class ListenerBridgeSpec extends AnyFunSuite {

  private def row(kind: String, q: String, run: String, b: Option[Long]) =
    ProgressEvent(kind, q, run, None, b, None, Some(1L), Some(1.0), Nil, None)

  test("progress eviction keeps rows that arrive after its snapshot") {
    val bridge = new ListenerBridge.ProgressBridge()
    (1L to 5L).foreach(b => bridge.offer(row("progress", "q", "run1", Some(b))))
    bridge.offer(row("started", "gone", "run1", None))
    bridge.offer(row("terminated", "gone", "run1", None))
    val seen = bridge.retained
    // arrive between the snapshot and the removal
    bridge.offer(row("progress", "q", "run1", Some(6L)))
    bridge.offer(row("progress", "absent", "run1", Some(1L)))
    bridge.offer(row("started", "gone", "run2", None))
    bridge.evictBeyond(2, seen)
    assert(bridge.retained.map(e => (e.kind, e.queryId, e.queryRunId, e.batchId)).toSet === Set(
      ("progress", "q", "run1", Some(4L)), ("progress", "q", "run1", Some(5L)),
      ("progress", "q", "run1", Some(6L)), ("progress", "absent", "run1", Some(1L)),
      ("started", "gone", "run2", None)))
  }
}
