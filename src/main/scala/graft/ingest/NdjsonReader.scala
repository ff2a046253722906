package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.model.Sanitize

/** O2/O3/O4 — the reference's ingest path, Spark-first:
  *
  *  - numbered NDJSON revision files, natural-sort order
  *    (`/root/reference/src/Commands/ProcessFilesCommand.php:40-55`)
  *  - incremental high-watermark skip
  *    (`/root/reference/src/KissmetricsToDatabase.php:714-745`)
  *  - lenient line parse that repairs unescaped quotes/backslashes inside
  *    flat JSON string values (`/root/reference/helpers.php:10-22`)
  *
  * Design: the fast path is codegen'd `from_json` over `spark.read.text`;
  * the repair function (a deterministic linear scan, equivalent in effect
  * to the reference's addslashes-callback heuristic) runs as a UDF only on
  * the lines the strict parse rejected — at 100 TB the dirty fraction is
  * tiny, so the scalar-UDF cost is bounded by it.
  *
  * Events land as promoted typed reserved columns (`_p`, `_p2`, `_n`, `_t`)
  * plus a `props` map of the remaining sanitized keys — the bounded-schema
  * answer to the reference's unbounded `ALTER TABLE ADD` loop (SURVEY.md
  * §1.4): no DDL on the hot path, schema width fixed, per-key access still
  * prunable via `props['key']`.
  */
object NdjsonReader {

  private val MapSchema = MapType(StringType, StringType)

  /** Repair one dirty NDJSON line: inside string literals, double lone
    * backslashes and escape quotes that cannot be terminators (a `"` only
    * terminates if followed by optional blanks then `:`/`,`/`}`/`]` or
    * end-of-line). Pure, total — returns its best effort, parse decides.
    */
  def repairLine(raw: String): String = {
    if (raw == null) return null
    val sb = new StringBuilder(raw.length + 8)
    var i = 0
    val n = raw.length
    var inStr = false
    while (i < n) {
      val c = raw.charAt(i)
      if (!inStr) {
        if (c == '"') inStr = true
        sb += c
        i += 1
      } else c match {
        case '\\' =>
          if (i + 1 < n && "\"\\/bfnrtu".indexOf(raw.charAt(i + 1)) >= 0) {
            sb += c += raw.charAt(i + 1); i += 2
          } else { sb ++= "\\\\"; i += 1 }
        case '"' =>
          var j = i + 1
          while (j < n && (raw.charAt(j) == ' ' || raw.charAt(j) == '\t')) j += 1
          if (j >= n || ":,}]".indexOf(raw.charAt(j)) >= 0) { inStr = false; sb += c }
          else sb ++= "\\\""
          i += 1
        case other =>
          sb += other; i += 1
      }
    }
    sb.toString
  }

  /** Natural-sort key of a revision file path: digits of the basename.
    * Long-typed — the watermark comparison key for the reference's numeric
    * revision filenames (`1234.json`). For arbitrary names use
    * [[natSortKey]]. */
  def fileNo(pathCol: Column): Column =
    regexp_extract(element_at(split(pathCol, "/"), -1), "(\\d+)", 1).cast("long")

  /** Full natural-sort key: lexicographic order on the key equals PHP
    * `strnatcmp` order on the name (`natsort`,
    * `/root/reference/src/KissmetricsToDatabase.php:177`; `strnatcmp`
    * comparator, `/root/reference/src/Commands/ProcessFilesCommand.php:43-44`)
    * — segment-wise: digit runs compare numerically, alpha runs bytewise.
    *
    * strnatcmp's digit-run rules, and how the key encodes each run:
    *  - both runs start non-zero → numeric compare ("longest run wins",
    *    then digit-wise). Key: a length-prefix digit `chr(48+len)` before
    *    the run — shorter numbers sort first, equal lengths compare
    *    digit-wise. (Runs of 9+ digits share prefix '9' and are zero-padded
    *    to 30 for numeric order within the group.)
    *  - a run starting with '0' compares LEFT-aligned (the "fractional"
    *    rule: `09 < 1`, `01 < 1`). Key: the run verbatim — it starts with
    *    '0', which sorts below every length-prefix, matching "zero-start
    *    runs sort below non-zero runs, lexicographically among themselves".
    *  - digit-vs-alpha / digit-vs-end positions compare bytewise in
    *    strnatcmp; every key variant starts with SOME digit, and all
    *    digits sit on the same side of any non-digit byte, so the sign
    *    agrees.
    * Divergence kept deliberately: no whitespace skipping (PHP natsort
    * skips spaces; filenames don't contain them). Pure column math
    * (codegen'd), no UDF.
    */
  def natSortKey(c: Column): Column =
    array_join(
      transform(
        // bracket each digit run with a sentinel and split on it:
        // alternating non-digit / digit segments, delimiters preserved
        split(regexp_replace(c, "([0-9]+)", "\u0001$1\u0001"), "\u0001"),
        s => when(!s.rlike("^[0-9]+$"), s)
          .when(s.startsWith("0"), s)
          .when(length(s) < 9, concat(chr(length(s) + lit(48)), s))
          .otherwise(concat(lit("9"), lpad(s, 30, "0")))),
      "")

  /** Raw lines + file lineage, watermark-filtered and blank-filtered.
    * Batch analog of the reference's "process files after the high
    * watermark, in order" contract; the streaming analog is a checkpointed
    * file source (see graft.streaming.StreamIngest).
    *
    * With a watermark, files at or below it are pruned at planning time:
    * the filter on the file-constant `_metadata.file_path` is pushed into
    * Spark's file index, so those files are never split or opened. Spark's
    * own listing and splitting stay, and `file` is still
    * `input_file_name()`. The per-row `file_no > wm` filter stays too, so
    * pruning can only skip a file, never let one in.
    */
  def rawLines(spark: SparkSession, path: String, watermark: Option[Long] = None): DataFrame = {
    val text = spark.read.text(path)
    val pruned = watermark.fold(text)(wm =>
      text.filter(fileNo(col("_metadata.file_path")) > wm))
    val base = pruned.select(col("value").as("line"))
      .withColumn("file", input_file_name())
      .withColumn("file_no", fileNo(col("file")))
      .filter(length(trim(col("line"))) > 0)
    watermark.fold(base)(wm => base.filter(col("file_no") > wm))
  }

  /** Lines → string→string map; strict parse first, the native
    * `repair_json` expression (graft.functions.RepairJsonLine — stays in
    * whole-stage codegen, unlike a Scala udf) only on the strict-parse
    * failures; unparseable-after-repair lines keep a non-null
    * `corrupt_line` for the caller to count/route (G1 skips, G2 aborts —
    * we surface, caller decides).
    */
  def parsed(lines: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(lines.sparkSession)
    lines
      .withColumn("strict", from_json(col("line"), MapSchema))
      .withColumn("fields",
        when(col("strict").isNotNull, col("strict"))
          .otherwise(from_json(expr("repair_json(line)"), MapSchema)))
      .withColumn("corrupt_line",
        when(col("fields").isNull, col("line")).otherwise(lit(null)))
      .drop("strict")
  }

  /** The typed events frame: reserved Kissmetrics fields promoted to typed
    * columns, everything else in a sanitized-key props map, plus the
    * derived columns of the reference chain (`_n_not_null`, `md5hash` over
    * values in sanitized-key order — SURVEY.md §7.4 fingerprint contract).
    */
  def events(lines: DataFrame): DataFrame = {
    import Sanitize.Reserved._
    val f = col("fields")
    parsed(lines)
      .filter(col("corrupt_line").isNull)
      .select(
        col("file"), col("file_no"),
        f(Person).as("person"),
        f(Alias).as("alias"),
        f(Name).as("name"),
        f(Time).cast("long").as("epoch"),
        to_timestamp(from_unixtime(f(Time).cast("long"))).as("ts"),
        coalesce(f(Name), lit("")).as("n_not_null"),
        // fingerprint: values in sanitized-key order (deterministic under
        // any map iteration order)
        md5(concat_ws("", expr(
          """transform(
               array_sort(
                 transform(map_entries(fields),
                   e -> struct(regexp_replace(e.key, '[-_ ]+', '_') AS k, e.value AS v)),
                 (l, r) -> CASE WHEN l.k < r.k THEN -1 WHEN l.k > r.k THEN 1 ELSE 0 END),
               e -> e.v)"""))).as("md5hash"),
        expr(
          """map_from_entries(
               transform(map_entries(fields),
                 e -> struct(regexp_replace(e.key, '[-_ ]+', '_'), e.value)))""")
          .as("props"))
  }

  /** End-to-end convenience: path → typed events frame. */
  def readEvents(spark: SparkSession, path: String, watermark: Option[Long] = None): DataFrame =
    events(rawLines(spark, path, watermark))
}

/** The reference's scalar watermark file (`var/last-read-file`), kept for
  * batch mode; Structured Streaming replaces it with the checkpoint dir.
  */
object WatermarkStore {
  import java.nio.file.{Files, Paths}

  def read(path: String): Option[Long] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.readString(p).trim.toLongOption else None
  }

  /** Advance only forward — replays must not move the watermark back
    * (`/root/reference/src/KissmetricsToDatabase.php:723-735`). */
  def advance(path: String, to: Long): Unit = {
    val cur = read(path).getOrElse(Long.MinValue)
    if (to > cur) {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.writeString(p, to.toString)
    }
  }
}
