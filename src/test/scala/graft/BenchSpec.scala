package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact metric line's display names: unique, deterministic, and
  * small enough that the full 103-query map fits the driver's bounded
  * (~2000-char) output capture even under heavy host-noise inflation.
  */
class BenchSpec extends AnyFunSuite {

  test("shortNames are unique, deterministic, and q_-stripped") {
    val names = SparkEntry.queries.keys.toSeq
    val short = Bench.shortNames(names)
    assert(short.keySet == names.toSet)
    assert(short.values.toSeq.distinct.size == names.size,
      "shortened names must stay unique")
    assert(short == Bench.shortNames(names.reverse),
      "shortening must not depend on input order")
    assert(short.forall { case (_, v) => !v.startsWith("q_") })
    // the shortened form is always a prefix of the stripped original
    assert(short.forall { case (k, v) =>
      (if (k.startsWith("q_")) k.drop(2) else k).startsWith(v)
    })
  }

  test("shortNames terminates and stays unique when stripping collides") {
    // "q_foo" and "foo" strip to the same string — those entries must
    // fall back to their full names instead of looping forever
    val short = Bench.shortNames(Seq("q_foo", "foo", "q_bar_baz_quux_long"))
    assert(short.values.toSeq.distinct.size == 3)
    assert(short("q_foo") == "q_foo" && short("foo") == "foo")
    assert(short("q_bar_baz_quux_long") == "bar_baz_qu")
  }

  test("the compact metric line fits the driver's capture window with headroom") {
    val names = SparkEntry.queries.keys.toSeq
    // worst realistic case: every median takes 4 digits of milliseconds
    // (≥1 s and <10 s per query — far above today's ~0.7 s median)
    val line = Bench.metricLine(9999.999, 999999L, names.map(_ -> 9.999).toMap)
    assert(line.length <= Bench.lineBudget,
      s"metric line too long for the ~2000-char capture tail at " +
        s"${names.size} queries: ${line.length}")
  }

  test("the overflow policy degrades name length instead of clipping, " +
      "and keeps today's stable names at today's costs") {
    // TODAY's full surface (127 queries, r14) with every query at 4 ms
    // digits — the heavy-host-noise shape this round actually produced:
    // the rendered line must still fit with every query present (names
    // shrink to the 4-char base + minimal collision extensions; the +1
    // extension step was what bought this back after the r13 q_sql_*/
    // *_indexed families tipped the +2 rule over budget)
    val names = SparkEntry.queries.keys.toSeq
    val worst = names.map(_ -> 9.999).toMap
    // prepare_ms chosen to not collide with the ":9999" count below
    val worstLine = Bench.metricLine(1259.874, 123456L, worst)
    assert(worstLine.length <= Bench.lineBudget,
      s"${names.size}-query worst case ${worstLine.length}")
    // uniqueness survives degradation: every query key renders exactly once
    assert("\"[a-zA-Z0-9_]+\":9999".r.findAllIn(worstLine).size == worst.size)
    // at TODAY's realistic costs the line renders at the 4-char base —
    // the SAME base (same keys) the r16 driver record carried, so
    // round-over-round key comparison on the compact line still lines
    // up (r17's "sf" scalar tipped the base-6 border case; per-query
    // FULL-NAME matching rides the sidecar's "queries" map since r17)
    val todayLine = Bench.metricLine(86.43, 123456L, names.map(_ -> 0.816).toMap)
    assert(todayLine.length <= Bench.lineBudget)
    val fourCharNames = Bench.shortNames(names, 4)
    names.foreach { n =>
      assert(todayLine.contains("\"" + fourCharNames(n) + "\":816"), n)
    }
  }

  test("past the base-4 fallback the line hard-degrades to scalars only — " +
      "never a clipped half-JSON record") {
    // a pathological 400-query surface: even base-4 names overflow the
    // budget, so the line must drop the per-query map entirely and stay
    // a complete JSON object within budget
    val huge = (0 until 400).map(i => s"q_pathological_growth_case_$i" -> 9.999).toMap
    val line = Bench.metricLine(3999.6, 999999L, huge)
    assert(line.length <= Bench.lineBudget, s"fallback line ${line.length}")
    assert(line.endsWith(""""queries_ms":{}}"""), line.takeRight(40))
    assert(line.contains(""""value":3999.600"""))
    assert(line.contains(""""prepare_ms":999999"""))
  }

  test("the sidecar carries per-query {min, med, max, n} spread as one " +
      "complete JSON object, and the compact line still fits its budget") {
    val perQuery = Seq(
      "q_clean" -> Seq(0.50, 0.55, 0.60),
      "q_noisy" -> Seq(0.9, 1.0, 12.4, 1.1, 0.95)) // widened to n=5
    val line = Bench.sidecarLine(1.55, 9579L,
      Seq("tag_index" -> 100L, "lsh" -> 200L), "/root/testdata/sf0.1",
      perQuery)
    // the driver-contract shape (r17): "queries" maps FULL names to
    // median seconds — the full-fidelity channel for per-query matching
    // (the printed compact line cannot hold full names in the driver's
    // ~2000-char tail)
    assert(line.contains(""""queries":{"q_clean":0.550,"q_noisy":1.000}"""),
      line)
    // numeric sf parsed from the data dir, plus the raw dir
    assert(line.contains(""""sf":0.1"""), line)
    assert(line.contains(""""sf_dir":"/root/testdata/sf0.1""""), line)
    // spread per query: min/med/max and the (possibly widened) n
    assert(line.contains(
      """"q_clean":{"min":0.500,"med":0.550,"max":0.600,"n":3}"""), line)
    assert(line.contains(
      """"q_noisy":{"min":0.900,"med":1.000,"max":12.400,"n":5}"""), line)
    // whole-run spread bounds and the documented adjudication rule
    assert(line.contains(""""total_min":1.400"""))
    assert(line.contains(""""total_max":13.000"""))
    assert(line.contains(""""noise_rule":"""))
    // host load rides the record too (r12): co-tenancy is visible in
    // the sidecar, not reconstructed from timestamps
    assert(line.contains(""""load_start":"""))
    assert(Bench.loadAvg() >= -1.0)
    // the record parses as one complete JSON object (balanced braces,
    // the property every reader of the sidecar depends on)
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.startsWith("{") && line.endsWith("}"))
    // the COMPACT printed line is untouched by the spread work: medians
    // only, within the driver's capture budget
    val medians = perQuery.map { case (k, ts) => k -> Bench.median(ts) }.toMap
    val compact = Bench.metricLine(1.55, 9579L, medians)
    assert(compact.length <= Bench.lineBudget)
    assert(compact.contains(""""noisy":1000"""), compact)
  }

  test("a throwing query is reported as a failure, not a timed reading") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{lit, raise_error}
    // thrown while the query is built, and thrown only once it executes
    val (_, built) = Bench.timeRun(throw new IllegalStateException("boom"))
    assert(built.exists(_.getMessage == "boom"))
    val (_, executed) = Bench.timeRun(
      spark.range(3).select(raise_error(lit("late boom"))))
    assert(executed.exists(_.getMessage.contains("late boom")))
    val (secs, ok) = Bench.timeRun(spark.range(3).toDF())
    assert(ok.isEmpty && secs >= 0.0)
  }

  test("sfOf parses the numeric scale factor from sf-named dirs") {
    assert(Bench.sfOf("/root/testdata/sf0.1") == "0.1")
    assert(Bench.sfOf("/root/testdata/sf0.001") == "0.001")
    assert(Bench.sfOf("/data/sf2") == "2")
    assert(Bench.sfOf("/tmp/other") == "null")
  }

  test("the compact line carries the contract's sf scalar ahead of the map") {
    val line = Bench.metricLine(1.5, 10L, Map("q_a" -> 0.5), "0.1")
    assert(line.contains(""""sf":0.1"""), line)
    assert(line.indexOf(""""sf":""") < line.indexOf(""""queries_ms":"""))
  }

  test("the adaptive re-run rule fires on proportional spread above the " +
      "absolute floor, not on cheap-query wobble") {
    // r11's q_corpus_build case: 12.47 s max on a 1.62 s median → rerun
    assert(Bench.needsRerun(Seq(1.5, 1.62, 12.47)))
    // clean run: spread well under 3× → no rerun
    assert(!Bench.needsRerun(Seq(0.5, 0.55, 0.6)))
    // a 10 ms query reading 40 ms once is proportionally noisy but can
    // never move an adjudication — the absolute floor keeps it at n=3
    assert(!Bench.needsRerun(Seq(0.01, 0.012, 0.04)))
    // proportional AND absolute: 0.2 s median, 0.9 s max → rerun
    assert(Bench.needsRerun(Seq(0.19, 0.2, 0.9)))
  }

  test("the metric line carries prepare_ms ahead of the per-query map") {
    val names = SparkEntry.queries.keys.toSeq
    val line = Bench.metricLine(86.43, 123456L, names.map(_ -> 0.816).toMap)
    val prepAt = line.indexOf(""""prepare_ms":123456""")
    assert(prepAt >= 0, line.take(120))
    assert(prepAt < line.indexOf(""""queries_ms":"""),
      "scalars precede the map: the driver keeps the output TAIL, so a " +
        "clipped line loses head scalars, never per-query rows")
  }
  test("the sidecar's short_names map inverts the printed line's keys and " +
      "stays stable for the declared query set") {
    val names = SparkEntry.queries.keys.toSeq
    val (line, keyMap) = Bench.compactLine(86.43, 123456L, names.map(_ -> 0.816).toMap, "null")
    val lineKeys = "\"([a-zA-Z0-9_]+)\":816".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(lineKeys.size == names.size && keyMap.keySet == lineKeys.toSet)
    assert(keyMap.values.toSeq.sorted == names.sorted)
    // the base the line used (today's 4-char base), whatever the input
    // order or the medians of the same rendered width
    assert(keyMap == Bench.shortNames(names, 4).map(_.swap))
    assert(Bench.compactLine(86.43, 123456L, names.reverse.map(_ -> 0.5).toMap, "null")._2 == keyMap)
    // the keys are the ones earlier records carry: a change to the query
    // set or to shortNames that moves any key changes this digest
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(keyMap.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }.mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    assert(digest == "a940e4a5d367eb49", digest)
    // the sidecar carries the map as one JSON object
    val side = Bench.sidecarLine(86.43, 123456L, Nil, "/root/testdata/sf0.1",
      names.map(_ -> Seq(0.816)), keyMap = keyMap)
    val pairs = keyMap.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
    assert(side.contains(pairs.mkString(""""short_names":{""", ",", "}")), side)
    assert(side.count(_ == '{') == side.count(_ == '}'))
    // a line that dropped its per-query map has no keys to map
    val huge = (0 until 400).map(i => s"q_pathological_growth_case_$i" -> 9.999).toMap
    assert(Bench.compactLine(3999.6, 999999L, huge, "null")._2.isEmpty)
  }
}
