package perfbench

import scala.collection.mutable

import graft.streaming.Sinks.{MetadataSink, ObjectStore}

/** Checks that the counting wrappers forward every call unchanged (same
  * arguments, same order, same result) and count each call exactly once.
  * Runs at build time; exits non-zero on the first mismatch. */
object DecoratorsSpec {
  /** Fake stores that log every call they receive and answer deterministically. */
  final class LoggingStore(log: mutable.ArrayBuffer[String]) extends ObjectStore {
    override def put(b: String, k: String, body: Array[Byte], ct: String, md: Map[String, String]): Unit =
      log += s"put|$b|$k|${new String(body, "UTF-8")}|$ct|${md.toSeq.sorted}"
    override def get(b: String, k: String): Option[Array[Byte]] = {
      log += s"get|$b|$k"
      if (k.startsWith("miss")) None else Some(s"$b/$k".getBytes("UTF-8"))
    }
    override def keys(b: String): Seq[String] = { log += s"keys|$b"; Seq(s"$b-1", s"$b-2") }
  }
  final class LoggingSink(log: mutable.ArrayBuffer[String]) extends MetadataSink {
    override def upsert(t: String, s: String, i: Long, doc: Map[String, String]): Unit =
      log += s"upsert|$t|$s|$i|${doc.toSeq.sorted}"
    override def find(t: String, s: String, i: Long): Option[Map[String, String]] = {
      log += s"find|$t|$s|$i"
      if (i < 0) None else Some(Map("i" -> i.toString))
    }
    override def findLatest(t: String, s: String, pred: Map[String, String] => Boolean): Option[Map[String, String]] = {
      log += s"findLatest|$t|$s"
      Some(Map("s" -> s)).filter(pred)
    }
    override def count(t: String): Long = { log += s"count|$t"; t.length.toLong }
  }

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"DecoratorsSpec FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    SinkCounters.reset()
    val direct, wrapped = mutable.ArrayBuffer.empty[String]
    val (os0, ms0) = (new LoggingStore(direct), new LoggingSink(direct))
    val os = new CountingObjectStore(new LoggingStore(wrapped), "t")
    val ms = new CountingMetadataSink(new LoggingSink(wrapped), "t")
    val results0, results = mutable.ArrayBuffer.empty[Any]
    val ts = "2026-01-01T00:00:00.250Z"
    for (i <- 0 until 50) {
      val body = s"body-$i".getBytes("UTF-8")
      def calls(o: ObjectStore, m: MetadataSink, out: mutable.ArrayBuffer[Any]): Unit = {
        o.put("b", s"k$i", body, "video/mp2t", Map("i" -> i.toString))
        out += o.get("b", if (i % 3 == 0) s"miss$i" else s"k$i").map(new String(_, "UTF-8"))
        out += o.getString("b", s"k$i")
        out += o.keys(s"b$i")
        m.upsert(if (i % 2 == 0) "live_metadata" else "vod_metadata", s"s$i", i.toLong,
          Map("timestamp" -> ts, "n" -> i.toString))
        out += m.find("t", s"s$i", i.toLong - 25)
        out += m.findLatest("t", s"s$i", _.contains("s"))
        out += m.findLatest("t", s"s$i", _ => false)
        out += m.count(s"t$i")
      }
      calls(os0, ms0, results0)
      calls(os, ms, results)
    }
    check(direct == wrapped, "wrapped stores received different calls than direct ones")
    check(results0 == results, "wrapped stores returned different results")
    val st = SinkCounters.role("t")
    check(st.put.calls.sum == 50, s"puts counted ${st.put.calls.sum}")
    check(st.put.bytes.sum == (0 until 50).map(i => s"body-$i".length).sum, "put bytes")
    check(st.get.calls.sum == 100, s"gets counted ${st.get.calls.sum}")
    check(st.keys.calls.sum == 50, s"keys counted ${st.keys.calls.sum}")
    check(st.upsert.calls.sum == 50, s"upserts counted ${st.upsert.calls.sum}")
    check(st.find.calls.sum == 50, s"finds counted ${st.find.calls.sum}")
    check(st.findLatest.calls.sum == 100, s"findLatest counted ${st.findLatest.calls.sum}")
    check(st.count.calls.sum == 50, s"counts counted ${st.count.calls.sum}")
    check(st.all.forall(o => o.ms.size == o.calls.sum), "one duration sample per call")
    check(SinkCounters.delivered.size == 50 &&
      SinkCounters.delivered.values().stream().allMatch(_.get == 1), "one delivery per upserted key")
    check(SinkCounters.deliveredMs.size == 25, "latency recorded for live_metadata upserts only")
    check(SinkCounters.deliveredMs.values.forall(_ > 0), "latency measured from the document timestamp")
    println("DecoratorsSpec: all checks passed")
  }
}
