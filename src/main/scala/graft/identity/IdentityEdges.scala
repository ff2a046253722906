package graft.identity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Sanitize.Reserved

/** Identity edge derivation from a typed events frame — BOTH edge sources
  * the reference knows:
  *
  *  - alias events: (person — alias) for every non-empty `_p2`
  *    (`/root/reference/src/KissmetricsToDatabase.php:359-394`);
  *  - email updates: an `'updated email'` event contributes
  *    (person — new_email) and (new_email — previous_email), the extra
  *    edges the reference's full-table rebuild folds in
  *    (`/root/reference/src/KissmetricsToDatabase.php:401-455`, edges at
  *    `:426-436`).
  *
  * Output is a (person, alias) pair frame ready for
  * [[Components.connectedComponentsString]]. It is not deduplicated:
  * Components drops self-loops and duplicates in its own distinct, so a
  * second one here would only cost another shuffle.
  */
object IdentityEdges {

  private def nonEmpty(c: Column): Column = c.isNotNull && c =!= ""

  // the two edge sources, as row predicates over the events frame
  private def aliasEdge: Column = nonEmpty(col("alias"))
  private def emailEdge: Column =
    col("name") === "updated email" && nonEmpty(col("props")(Reserved.NewEmail))

  /** Never-null row predicate: true exactly on the rows [[fromEvents]]
    * turns into at least one edge, so `max(hasEdge)` over a frame answers
    * `!fromEvents(frame).isEmpty` inside an aggregate the caller already
    * runs. */
  def hasEdge: Column = coalesce(aliasEdge || emailEdge, lit(false))

  def fromEvents(events: DataFrame): DataFrame = {
    val alias = events
      .filter(aliasEdge)
      .select(col("person"), col("alias"))
    val em = events
      .filter(emailEdge)
      .select(col("person"),
        col("props")(Reserved.NewEmail).as("ne"),
        col("props")(Reserved.PreviousEmail).as("pe"))
    val personToNew = em.select(col("person"), col("ne").as("alias"))
    val newToPrevious = em.where(nonEmpty(col("pe")))
      .select(col("ne").as("person"), col("pe").as("alias"))
    alias.union(personToNew).union(newToPrevious)
  }
}
