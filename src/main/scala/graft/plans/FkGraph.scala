package graft.plans

import org.slf4j.LoggerFactory

import scala.collection.mutable

/** A logical (composite-merged) foreign key edge of the schema graph —
  * analogue of the reference's `LogicalFK`
  * (simple-anonymizer/src/scala/simpleanonymizer/DbContext.scala:127-142).
  *
  * @param columns pairs of (child fk column, parent pk column), in key order.
  */
case class LogicalFK(
    name: String,
    childTable: String,
    parentTable: String,
    columns: Seq[(String, String)]
) {
  def isSelfRef: Boolean = childTable == parentTable
  def fkColumns: Seq[String] = columns.map(_._1)
  def pkColumns: Seq[String] = columns.map(_._2)
}

/** Schema + key manifest for a catalog of tables. For JDBC sources this is
  * fetched from database metadata; for lake sources it's supplied by the
  * caller (immutable files carry no FK catalog).
  */
case class SchemaManifest(
    tables: Seq[String],
    pks: Map[String, Seq[String]] = Map.empty,
    fks: Seq[LogicalFK] = Nil
) {
  /** All FK columns per child table — analogue of DbContext.fkColumnsByTable. */
  lazy val fkColumnsByTable: Map[String, Set[String]] =
    fks.groupBy(_.childTable).view.mapValues(_.flatMap(_.fkColumns).toSet).toMap
}

/** FK-topological table leveling. Semantic contract (matching reference
  * TableSorter.scala behavior, independently implemented as a Kahn-style
  * worklist): level 0 = no cross-table parents in scope; a table's level is
  * max(parent levels) + 1 (the longest dependency path, so every parent
  * lands in a strictly earlier level); self-referencing FKs don't count
  * (they're handled by the closure operators, not the schedule); tables on
  * a cross-table cycle receive NO level and are skipped with a warning;
  * alphabetical order within a level keeps the schedule deterministic.
  *
  * Driver-side planning only — the level order gates FK-constrained sink
  * writes; lake sinks write every table at once and need no order.
  */
object TableSorter {
  private val logger = LoggerFactory.getLogger(getClass)

  def computeTableLevels(tables: Seq[String], fks: Seq[LogicalFK]): Map[String, Int] = {
    val inScope = tables.toSet
    val parentsOf: Map[String, Set[String]] =
      tables.map { t =>
        t -> fks.collect {
          case fk if fk.childTable == t && !fk.isSelfRef && inScope(fk.parentTable) => fk.parentTable
        }.toSet
      }.toMap
    val childrenOf: Map[String, Seq[String]] =
      parentsOf.toSeq
        .flatMap { case (child, ps) => ps.map(_ -> child) }
        .groupBy(_._1)
        .view
        .mapValues(_.map(_._2))
        .toMap

    // Worklist: a table levels once ALL its parents have levels; leveling a
    // parent re-offers each of its children (the last parent to level is
    // the one whose offer sticks).
    val levels = mutable.HashMap.empty[String, Int]
    val queue  = mutable.Queue.from(tables.filter(parentsOf(_).isEmpty))
    while (queue.nonEmpty) {
      val t = queue.dequeue()
      if (!levels.contains(t)) {
        val ps = parentsOf(t)
        if (ps.forall(levels.contains)) {
          levels(t) = if (ps.isEmpty) 0 else ps.iterator.map(levels).max + 1
          childrenOf.getOrElse(t, Nil).foreach(queue.enqueue(_))
        }
      }
    }

    val cyclic = tables.filterNot(levels.contains)
    if (cyclic.nonEmpty)
      logger.warn(
        "No FK-consistent insertion level exists for {} (cross-table reference cycle) — skipping those tables",
        cyclic.sorted.mkString(", ")
      )
    levels.toMap
  }

  def groupTablesByLevel(tableLevels: Map[String, Int]): Seq[Seq[String]] =
    tableLevels.toSeq
      .groupBy(_._2)
      .toSeq
      .sortBy(_._1)
      .map(_._2.map(_._1).sorted)

  /** Tables grouped by dependency level, alphabetical within a level. */
  def apply(tables: Seq[String], fks: Seq[LogicalFK]): Seq[Seq[String]] =
    groupTablesByLevel(computeTableLevels(tables, fks))
}
