package graft.identity

import org.apache.spark.sql.functions.{col, lit, max}

import graft.SparkSpec
import graft.ingest.NdjsonReader

class IdentityEdgesSpec extends SparkSpec {
  import spark.implicits._

  /** One NDJSON line through the real parse → typed events frame. */
  private def eventsOf(line: String) =
    NdjsonReader.events(Seq(line).toDF("line")
      .withColumn("file", lit("1.json")).withColumn("file_no", lit(1L)))

  test("hasEdge agrees with fromEvents(...).isEmpty on edge cases") {
    val cases = Seq(
      """{"_p2": "anon-1", "_n": "alias", "_t": "1"}""" -> true, // null _p
      """{"_p": "alice", "_p2": "anon-1", "_n": "alias", "_t": "1"}""" -> true,
      """{"_p": "alice", "_p2": "", "_n": "alias", "_t": "1"}""" -> false,
      """{"_p": "alice", "_n": "updated email", "_t": "1"}""" -> false,
      """{"_p": "alice", "_n": "updated email", "_t": "1", "new_email": ""}""" -> false,
      """{"_p": "alice", "_n": "updated email", "_t": "1", "previous_email": "a@x"}""" -> false,
      """{"_p": "alice", "_n": "updated email", "_t": "1", "new_email": "b@x"}""" -> true,
      """{"_p": "alice", "_n": "updated email", "_t": "1", "new_email": "b@x", "previous_email": "a@x"}""" -> true,
      """{"_p": "alice", "_n": "viewed", "_t": "1", "new_email": "b@x"}""" -> false,
      """{"_p": "alice", "_t": "1"}""" -> false, // null _n
      """{"_p": "alice", "_p2": "anon-1", "_t": "1"}""" -> true, // null _n
      """{"_p": "alice", "_t": "1", "new_email": "b@x"}""" -> false) // null _n
    cases.foreach { case (line, want) =>
      val ev = eventsOf(line)
      assert(ev.count() == 1, line)
      val flags = ev.select(IdentityEdges.hasEdge).as[Option[Boolean]].collect()
      assert(flags.forall(_.isDefined), s"hasEdge is null on $line")
      val any = ev.agg(max(IdentityEdges.hasEdge)).head().getBoolean(0)
      assert(any == want, line)
      assert(any == !IdentityEdges.fromEvents(ev).isEmpty, line)
    }
  }

  test("max(hasEdge) over a mixed frame is true iff any row has an edge") {
    val lines = Seq(
      """{"_p": "alice", "_n": "viewed", "_t": "1"}""",
      """{"_p": "bob", "_p2": "", "_n": "alias", "_t": "2"}""",
      """{"_p": "carol", "_n": "updated email", "_t": "3", "new_email": "c@x"}""")
    val ev = NdjsonReader.events(lines.toDF("line")
      .withColumn("file", lit("1.json")).withColumn("file_no", lit(1L)))
    assert(ev.agg(max(IdentityEdges.hasEdge)).head().getBoolean(0))
    assert(!ev.filter(col("person") =!= "carol")
      .agg(max(IdentityEdges.hasEdge)).head().getBoolean(0))
  }
}
