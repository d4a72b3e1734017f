package graft

import graft.dsl.{OutputColumn, TableSpec}
import graft.plans.{CoverageValidator, FilterPropagation, SchemaManifest, TableSorter}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.slf4j.LoggerFactory

/** High-level orchestrator: anonymized, optionally subsetted copies of a
  * multi-table catalog — the Spark-native analogue of the reference's
  * `DbCopier` (simple-anonymizer/src/scala/simpleanonymizer/DbCopier.scala:51-163).
  *
  * Per-table `TableSpec`s only need non-PK/non-FK columns: key columns are
  * passed through automatically (explicit entries win). Coverage is
  * validated BEFORE any data moves. Filters propagate through the FK graph
  * (semi joins + self-ref closures). Parquet sinks write every planned
  * table at once, each write counting its own rows; only the
  * FK-constrained JDBC sink ([[runJdbc]]) orders writes by FK-topological
  * level, because there parents must commit before their children.
  *
  * Snapshot consistency: the reference exports a PostgreSQL snapshot so all
  * per-table cursors see one point in time (DbCopier.scala:130-145). For
  * immutable lake sources this is a no-op; for JDBC sources, supply a
  * catalog of frames built from a single exported snapshot.
  */
class Graft(
    catalog: Map[String, DataFrame],
    manifest: SchemaManifest,
    skippedTables: Set[String] = Set.empty
) {
  private val logger = LoggerFactory.getLogger(getClass)

  /** Merge automatic PK/FK passthrough columns into each spec (explicit spec
    * entries take precedence) — reference DbCopier.scala:85-99.
    */
  private def addKeys(specs: Map[String, TableSpec]): Map[String, TableSpec] =
    specs.map { case (tableName, spec) =>
      val keyColumns =
        (manifest.pks.getOrElse(tableName, Seq.empty) ++
          manifest.fkColumnsByTable.getOrElse(tableName, Set.empty).toSeq.sorted)
          .map(OutputColumn.SourceColumn(_))
      tableName -> spec.copy(
        columns = (spec.columns ++ keyColumns).distinctBy(_.name)
      )
    }

  /** Build the per-table output plan: validation, filter propagation, key
    * merge, projection compile. Pure planning — nothing executes until the
    * returned frames are acted on.
    */
  def plan(tableSpecs: (String, TableSpec)*): Map[String, DataFrame] = {
    val schemas  = catalog.map { case (t, df) => t -> df.schema.fieldNames.toSeq }
    val specsMap = addKeys(tableSpecs.toMap)

    specsMap.foreach { case (t, spec) =>
      catalog.get(t).foreach(_ => CoverageValidator.ensureKnownColumns(t, spec, schemas(t)))
    }
    CoverageValidator.validate(manifest.tables, skippedTables, specsMap, manifest, schemas)

    val rawSpecs = tableSpecs.toMap
    val effective = FilterPropagation.computeFilteredTables(
      catalog,
      manifest,
      t => rawSpecs.get(t).flatMap(_.whereClause)
    )

    // Tables caught in a cross-table FK cycle receive no topological level,
    // so FilterPropagation never visits them. Mirror the reference DbCopier:
    // warn and proceed without them rather than failing the whole plan
    // (reference TableSorter drops them with a 'will not be copied' warning).
    val unleveled = specsMap.keySet -- skippedTables -- effective.keySet
    if (unleveled.nonEmpty)
      logger.warn(
        "Tables in an FK cycle will not be copied: {}",
        unleveled.toSeq.sorted.mkString(", ")
      )

    specsMap.collect {
      case (t, spec) if !skippedTables.contains(t) && effective.contains(t) =>
        // The effective frame already carries the explicit filter — compile
        // only projection/limit on top of it.
        t -> spec.copy(whereClause = None).compile(effective(t))
    }
  }

  /** Execute the plan into parquet at `outDir/<table>`, every table's
    * write started at once (the reference copies level by level,
    * DbCopier.scala:57-83, which only FK-constrained targets need — see
    * [[runJdbc]]); returns per-table row counts (reference returns
    * Map[table -> count]), taken from the writes themselves. Skipped tables
    * report 0; tables in an FK cycle are not copied and not reported.
    * Returns or throws only once every started write has ended.
    */
  def run(outDir: String, spark: SparkSession)(tableSpecs: (String, TableSpec)*): Map[String, Long] = {
    val plans  = plan(tableSpecs: _*)
    val sorted = TableSorter(manifest.tables, manifest.fks).flatten
    val tables = sorted.filter(plans.contains)
    logger.info("Copying {} tables at once...", tables.size)
    val counts = Parallel.all("graft-copy", tables.map { table => () =>
      Jobs.labeled(spark, s"graft.copy $table") {
        Graft.countingWrite(plans(table))(_.write.mode("overwrite").parquet(s"$outDir/$table"))
      }
    })
    sorted.filter(skippedTables).map(_ -> 0L).toMap ++ tables.zip(counts)
  }

  /** Execute the plan into a TARGET DATABASE — the full reference workflow
    * (DbCopier.run): FK-topological level order (parents commit before the
    * children that reference them — load-bearing under FK constraints),
    * tables within a level in parallel, self-referencing constraints
    * deferred around each table's write
    * ([[graft.sinks.JdbcUpsertSink.writeDeferringSelfRefs]]), and
    * sequences realigned afterwards when a discovery query is supplied.
    *
    * @param onConflict  upsert strategy per the reference's CopyAction;
    *                    None = plain append (see JdbcUpsertSink's
    *                    at-least-once note)
    * @param upsertVia   how `onConflict` executes: `InsertOnConflict`
    *                    renders PostgreSQL `INSERT .. ON CONFLICT` per
    *                    batch row; `StageAndMerge` appends into a staging
    *                    table and applies ONE ANSI `MERGE` (any
    *                    MERGE-capable database — Derby/H2/Oracle/SQL
    *                    Server — and the bulk-friendly shape on all of
    *                    them). Ignored when `onConflict` is None.
    * @param sequenceDiscovery dialect SQL for
    *                    [[graft.sources.JdbcCatalog.discoverSequences]]
    *                    (PG: `JdbcCatalog.PgSequenceDiscoverySql`); None
    *                    skips sequence reset (e.g. Derby targets)
    * @return rows handed to the sink per table, counted by the write's
    *         own job (no second read of the source)
    */
  def runJdbc(
      url: String,
      connectionProperties: java.util.Properties,
      targetSchema: String,
      onConflict: Option[graft.sinks.OnConflict] = None,
      sequenceDiscovery: Option[String] = None,
      upsertVia: Graft.UpsertPath = Graft.UpsertPath.InsertOnConflict
  )(tableSpecs: (String, TableSpec)*): Map[String, Long] = {
    val plans  = plan(tableSpecs: _*)
    val levels = TableSorter(manifest.tables, manifest.fks)
    logger.info("Copying {} tables into {} in {} levels...", plans.size, targetSchema, levels.size)

    val counts = levels.foldLeft(Map.empty[String, Long]) { (acc, level) =>
      val tables = level.filter(plans.contains)
      val written = Parallel.all("graft-copy-jdbc", tables.map { table => () =>
        Jobs.labeled(plans(table).sparkSession, s"graft.copy $table") {
          val pks = manifest.pks.getOrElse(table, Seq.empty)
          Graft.countingWrite(plans(table)) { df =>
            (onConflict, upsertVia) match {
              case (Some(oc), Graft.UpsertPath.StageAndMerge) =>
                graft.sinks.JdbcUpsertSink.upsertViaStagingMerge(
                  df, url, connectionProperties, targetSchema, table, oc, pks)
              case _ =>
                graft.sinks.JdbcUpsertSink.writeDeferringSelfRefs(
                  df, url, connectionProperties, targetSchema, table, onConflict, pks)
            }
          }
        }
      })
      acc ++ level.filter(skippedTables).map(_ -> 0L) ++ tables.zip(written)
    }

    sequenceDiscovery.foreach { query =>
      val conn = java.sql.DriverManager.getConnection(url, connectionProperties)
      try {
        val seqs = graft.sources.JdbcCatalog.discoverSequences(conn, targetSchema, query)
        logger.info("Resetting {} sequences...", seqs.size)
        graft.sinks.JdbcUpsertSink.resetSequences(conn, targetSchema, seqs)
      } finally conn.close()
    }
    counts
  }
}

object Graft {

  /** How [[Graft.runJdbc]] executes an [[graft.sinks.OnConflict]] strategy. */
  sealed trait UpsertPath
  object UpsertPath {

    /** Per-batch `INSERT .. ON CONFLICT` (PostgreSQL dialect). */
    case object InsertOnConflict extends UpsertPath

    /** Staging table + one ANSI `MERGE` ([[graft.sinks.JdbcUpsertSink.upsertViaStagingMerge]]). */
    case object StageAndMerge extends UpsertPath
  }

  /** Runs `write` on `df` and returns the rows it wrote, counted by an
    * observed metric inside the write's own job — no re-read of the output
    * and no second run of the source plan.
    */
  private def countingWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Catalog loader for the driver-provided parquet fixture layout
    * (`<dir>/<table>.parquet`).
    */
  def parquetCatalog(spark: SparkSession, dir: String, tables: Seq[String]): Map[String, DataFrame] =
    tables.map(t => t -> spark.read.parquet(s"$dir/$t.parquet")).toMap
}
