package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Union-find over string ids, canonical = the smallest id of each set by
  * UTF-8 byte order (the order graft's identity closure picks its
  * canonical id by). Kept separate from the program on purpose: it is the
  * oracle the ETL workloads' `tb_identity` is checked against.
  */
final class UnionFind {
  private val parent = mutable.HashMap.empty[String, String]

  private def less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  def find(x: String): String = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Joins the sets of `a` and `b`; a self-edge adds nothing, as in graft,
    * which drops `a = b` edges before the closure. */
  def union(a: String, b: String): Unit = if (a != b) {
    Seq(a, b).foreach(x => if (!parent.contains(x)) parent(x) = x)
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) { if (less(ra, rb)) parent(rb) = ra else parent(ra) = rb }
  }

  /** node → canonical id, for every node that appeared in an edge. */
  def closure: Map[String, String] = parent.keys.map(k => k -> find(k)).toMap
}

/** One generated NDJSON file and what graft must make of it. */
final case class CorpusFile(fileNo: Int, body: String, events: Int,
                            edges: Seq[(String, String)]) {
  def bytes: Long = body.getBytes(UTF_8).length.toLong
  def write(dir: Path): Unit =
    Files.write(dir.resolve(s"$fileNo.json"), body.getBytes(UTF_8))
}

/** Seeded generator of reference-shaped Kissmetrics NDJSON revision files
  * (`<n>.json`, one flat JSON event per line). The seed is the only
  * input; the program only ever sees the written files.
  *
  * The corpus carries what the reference's `process-files` job meets:
  * skewed person ids (a few people produce most events), alias events
  * (`_p2`), `updated email` events (two identity edges each), lines with
  * an unescaped inner quote (the repair path), blank lines (skipped), and
  * property keys that only appear from a later file on. A delta file can
  * carry bridging aliases: edges between two people already seen, which
  * merge two existing identity clusters.
  *
  * Expectations (events per file, identity edges per file) are computed
  * here as the lines are written; the closure comes from [[UnionFind]].
  */
final class Corpus(seed: Long, persons: Int = 20000) {
  private val rnd = new SplittableRandom(seed)
  private val baseTs = 1700000000L
  private val names = Array("pageview", "signup", "purchase", "search",
    "logout", "visited site", "clicked button")
  private val plans = Array("free", "pro", "team", "enterprise")
  private val seen = mutable.ArrayBuffer.empty[String]
  private val seenSet = mutable.HashSet.empty[String]

  /** Skewed person id: the cube of a uniform draw puts ~46% of events on
    * the lowest 10% of ids. */
  private def person(): String = {
    val u = rnd.nextDouble()
    s"u${(u * u * u * persons).toInt}"
  }

  private def remember(id: String): Unit =
    if (seenSet.add(id)) seen += id

  private def props(fileNo: Int, lateFrom: Int): String = {
    val sb = new StringBuilder
    sb ++= s""","plan":"${plans(rnd.nextInt(plans.length))}""""
    sb ++= s""","utm-source":"src${rnd.nextInt(40)}""""
    if (fileNo >= lateFrom) sb ++= s""","late key ${fileNo % 7}":"v${rnd.nextInt(1000)}""""
    sb.toString
  }

  /** One file of `lines` lines. `bridges` lines alias two people already
    * seen in earlier files (none on the first file). */
  def file(fileNo: Int, lines: Int, lateFrom: Int, bridges: Int = 0): CorpusFile = {
    val sb = new StringBuilder(lines * 110)
    val edges = mutable.ArrayBuffer.empty[(String, String)]
    var events = 0
    def ts() = baseTs + fileNo * 100000L + rnd.nextInt(100000)
    (0 until lines).foreach { i =>
      val p = person()
      val kind = rnd.nextInt(1000)
      if (i < bridges && seen.size >= 2) {
        val a = seen(rnd.nextInt(seen.size))
        val b = seen(rnd.nextInt(seen.size))
        sb ++= s"""{"_p":"$a","_p2":"$b","_n":"alias","_t":"${ts()}"}""" += '\n'
        events += 1
        if (a != b) edges += (a -> b)
      } else if (kind < 4) {
        sb += '\n'
      } else if (kind < 14) {
        sb ++= s"""{"_p":"$p","_n":"said "hi" to ${rnd.nextInt(50)}","_t":"${ts()}"}""" += '\n'
        events += 1
      } else if (kind < 44) {
        val anon = s"anon${rnd.nextInt(persons * 2)}"
        sb ++= s"""{"_p":"$p","_p2":"$anon","_n":"alias","_t":"${ts()}"}""" += '\n'
        events += 1
        edges += (p -> anon)
      } else if (kind < 59) {
        val ne = s"$p.${rnd.nextInt(3)}@mail.test"
        val pe = s"$p.${rnd.nextInt(3)}@old.test"
        sb ++= s"""{"_p":"$p","_n":"updated email","_t":"${ts()}","new_email":"$ne","previous_email":"$pe"}""" += '\n'
        events += 1
        edges += (p -> ne) += (ne -> pe)
      } else {
        sb ++= s"""{"_p":"$p","_n":"${names(rnd.nextInt(names.length))}","_t":"${ts()}"${props(fileNo, lateFrom)}}""" += '\n'
        events += 1
      }
    }
    edges.foreach { case (a, b) => remember(a); remember(b) }
    CorpusFile(fileNo, sb.toString, events, edges.toSeq)
  }

  /** Files `first` to `first + count - 1`, `linesPerFile` lines each. */
  def files(first: Int, count: Int, linesPerFile: Int, lateFrom: Int,
            bridges: Int = 0): Seq[CorpusFile] =
    (first until first + count).map(n => file(n, linesPerFile, lateFrom, bridges))
}

/** What `tb_event`, `tb_identity` and the watermark must hold after a
  * set of files has been loaded. */
final case class Expected(events: Long, maxFile: Int, closure: Map[String, String])

object Expected {
  def of(files: Seq[CorpusFile]): Expected = {
    val uf = new UnionFind
    files.foreach(_.edges.foreach { case (a, b) => uf.union(a, b) })
    Expected(files.map(_.events.toLong).sum, files.map(_.fileNo).maxOption.getOrElse(0), uf.closure)
  }
}
