package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prometheus exposition-format parser (S18/T4; ref: prom/scrape.go:52-101,
  * FIXTURES.md §B4): text lines → metric stream.
  *
  *  - metric type comes from the preceding `# TYPE <name> <type>` comment;
  *    only gauge/counter families survive (ref: prom/scrape.go:96-98)
  *  - NaN samples are dropped (ref: prom/scrape.go:85-95)
  *  - exposition labels merge OVER config tags (ref: prom/scrape.go:69-77)
  *  - optional name prefix (ref: prom/scrape.go:79-82)
  *
  * Declarative shape: one regexp projection per line + a broadcast-sized
  * join from samples to their TYPE families — no stateful line pairing, so
  * the parse distributes over any number of scrape payloads.
  */
object Prometheus {

  private val nameRe = "^([a-zA-Z_:][a-zA-Z0-9_:]*)"

  /** @param jsonLines DataFrame with exposition text lines in `column`
    * @param configTags static scrape-config tags (labels win on collision)
    * @param prefix prepended to every metric name
    * @param scrapedAt timestamp to stamp records with (the reference uses
    *        scrape wall-clock, prom/scrape.go:84)
    */
  def metrics(lines: DataFrame, scrapedAt: Column,
      configTags: Map[String, String] = Map.empty, prefix: String = "",
      host: String = "", column: String = "value"): DataFrame = {
    val raw = lines.select(col(column).as("line"))

    // `# TYPE <name> <type>` comments define each family's type. One row
    // per family: repeated TYPE lines (several scrape payloads in one
    // input) would otherwise duplicate every joined sample. min() keeps
    // the pick deterministic if payloads ever disagree on a family's type.
    val types = raw
      .filter(col("line").startsWith("# TYPE "))
      .select(
        regexp_extract(col("line"), "^# TYPE (\\S+) (\\S+)", 1).as("fam"),
        regexp_extract(col("line"), "^# TYPE (\\S+) (\\S+)", 2).as("ptype"))
      .filter(col("ptype").isin("gauge", "counter"))
      .groupBy("fam").agg(min("ptype").as("ptype"))

    val config: Column =
      if (configTags.isEmpty) map().cast("map<string,string>")
      else map(configTags.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

    // sample lines: name{labels} value
    val samples = raw
      .filter(!col("line").startsWith("#") && trim(col("line")) =!= "")
      .select(
        regexp_extract(col("line"), nameRe, 1).as("fam"),
        regexp_extract(col("line"), "\\{(.*)\\}", 1).as("labelstr"),
        regexp_extract(col("line"), "\\s(\\S+)\\s*$", 1).try_cast("double").as("value"))
      .filter(col("fam") =!= "" && col("value").isNotNull && !isnan(col("value")))

    // labels parse as key="value" pairs (expfmt grammar) so commas, '=',
    // and escaped quotes inside values survive; \\ / \n / \" unescape via
    // a NUL sentinel so `\\n` stays a literal backslash-n.
    val pairRe = "([a-zA-Z_:][a-zA-Z0-9_:]*)\\s*=\\s*\"((?:[^\"\\\\]|\\\\.)*)\""
    def unescape(c: Column): Column =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(c, "\\\\\\\\", "\u0000"),
            "\\\\n", "\n"),
          "\\\\\"", "\""),
        "\u0000", "\\\\")
    val pairs = regexp_extract_all(col("labelstr"), lit(pairRe), lit(0))
    // duplicate label names in one sample line keep the LAST value (the old
    // str_to_map behavior) instead of tripping mapKeyDedupPolicy=EXCEPTION
    // and failing the whole batch on one malformed scrape line
    val entries = transform(pairs, p => struct(
      regexp_extract(p, pairRe, 1).as("k"),
      unescape(regexp_extract(p, pairRe, 2)).as("v")))
    val lastWins = filter(entries, (e, i) =>
      !exists(slice(entries, i + 2, size(entries)),
        e2 => e2.getField("k") === e.getField("k")))
    val labels = map_from_entries(lastWins)

    samples
      .join(broadcast(types), "fam") // inner: families without a supported TYPE drop
      .select(
        scrapedAt.as("time"),
        col("ptype").as("type"),
        lit(host).as("host"),
        concat(lit(prefix), col("fam")).as("name"),
        col("value"),
        map_concat(
          map_filter(config, (k, _) => !map_contains_key(labels, k)),
          labels).as("tags"))
  }
}
