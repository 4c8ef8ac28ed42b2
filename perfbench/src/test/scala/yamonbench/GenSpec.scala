package yamonbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def bytes(env: Seq[Gen.Envelope]): Seq[String] = env.map(_.body)

  private def tableText(seed: Long): String =
    Gen.table(seed, hosts = 3, points = 40, stepMicros = 5000000L).mkString("\n")

  test("the same seed gives byte-identical backlog envelopes") {
    val a = Gen.backlog(7L, envelopes = 12, rows = 50, hosts = 5, stepMicros = 1000000L)
    val b = Gen.backlog(7L, envelopes = 12, rows = 50, hosts = 5, stepMicros = 1000000L)
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(Gen.backlog(8L, 12, 50, 5, 1000000L)))
  }

  test("the same seed gives byte-identical live schedules") {
    val a = Live.schedule(3L, seconds = 6)
    val b = Live.schedule(3L, seconds = 6)
    assert(a.map(f => (f.dueNs, f.env.body)) == b.map(f => (f.dueNs, f.env.body)))
    assert(a.map(_.dueNs) == a.map(_.dueNs).sorted)
    assert(a.map(_.env.body) != Live.schedule(4L, seconds = 6).map(_.env.body))
  }

  test("the same seed gives identical table rows") {
    assert(tableText(5L) == tableText(5L))
    assert(tableText(5L) != tableText(6L))
  }

  test("the same seed gives identical declared_mix tables") {
    def text(seed: Long) = MixData.tables(seed).map { case (n, schema, rows) =>
      n + schema.json + rows.map(_.toSeq.map {
        case a: Seq[_] => a.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString(",")).mkString("\n")
    }
    assert(text(42L) == text(42L))
    assert(text(42L) != text(43L))
    assert(MixData.tables(42L).map(_._1) == graft.Tables.names)
  }

  test("every envelope carries exactly its declared unparseable rows") {
    Gen.backlog(9L, envelopes = 20, rows = 300, hosts = 4, stepMicros = 1000000L).foreach { e =>
      val bad = "\"histogram\"".r.findAllMatchIn(e.body).size +
        "\"not-a-time\"".r.findAllMatchIn(e.body).size
      assert(bad == e.rows - e.valid)
      assert(e.rows - e.valid == Gen.dropsFor(300))
    }
  }

  test("data spans the seed's UTC midnight") {
    val mid = Gen.midnightMicros(11L)
    val times = Gen.table(11L, hosts = 1, points = 100, stepMicros = 5000000L).map(_.time).toSeq
    assert(times.min < mid && times.max >= mid)
  }
}
