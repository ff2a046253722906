package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val tmp = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    .getOrCreate()

  private def frame = {
    val s = spark
    import s.implicits._
    Seq((1L, "a", Map("k" -> 1.5)), (2L, "b", Map.empty[String, Double]), (2L, "b", Map.empty[String, Double]))
      .toDF("id", "name", "props")
  }

  test("the digest ignores row order and partitioning, covers every column and row") {
    val d = Digest.of(frame)
    assert(d.rows == 3)
    assert(Digest.of(frame.repartition(3)) == d)
    assert(Digest.of(frame.orderBy(org.apache.spark.sql.functions.desc("id"))) == d)
    assert(Digest.of(frame.limit(2)) != d, "a missing duplicate row changes it")
    assert(Digest.of(frame.selectExpr("id", "upper(name) AS name", "props")) != d)
    assert(Digest.of(frame.selectExpr("id", "name", "map('k', 2.5D) AS props")) != d)
  }

  test("a wrong pinned digest, or none, fails the query; the right one passes") {
    val d = Digest.of(frame)
    assert(Pins.verdict(Pin("q", "core", Some(d.toString)), d) == "")
    assert(Pins.verdict(Pin("q", "core", Some("3:0:0:0")), d).startsWith("digest"))
    assert(Pins.verdict(Pin("q", "core", None), d).nonEmpty)
  }

  test("a failed op counts as failed and never as a time") {
    val args = Args("t", 1, 1, trace = false, tmp.resolve("w"), tmp.resolve("o.json"), "", tmp)
    val w = new Workload(args, spark) {
      def setup(): Unit = ()
      def latencyKinds: Set[String] = Set("query")
      def describe = scala.collection.immutable.ListMap.empty
      def run(): Unit = {
        val pins = Seq(Pin("good", "core", Some(Digest.of(frame).toString)),
          Pin("wrong", "core", Some("3:0:0:0")))
        pins.foreach { p =>
          op("query", p.name, p.family, "queries")(Digest.of(frame)) { (d, secs, id) =>
            val e = Pins.verdict(p, d)
            Op("query", p.name, p.family, secs, e.isEmpty, e, rows = d.rows, spanId = id)
          }
        }
        op("query", "throws", "core", "queries")(sys.error("boom"): Digest) { (d, secs, id) =>
          Op("query", "throws", "core", secs, ok = true, spanId = id)
        }
      }
    }
    w.startTimed(); w.run(); w.endTimed()
    assert(w.ops.map(o => o.name -> o.ok) == Seq("good" -> true, "wrong" -> false, "throws" -> false))
    val e2e = new Report(w, new Attribution(tmp)).endToEnd
    assert(e2e("ok_ratio") == 1.0 / 3)
    assert(e2e("total_s") == w.ops.head.seconds, "only the good query's time counts")
    assert(e2e("op_p50_s") == w.ops.head.seconds)
  }
}
