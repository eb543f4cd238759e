package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
  CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable,
  Histogram, HistogramBin, LogicalPlan, MergeIntoTable, Project,
  UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import scala.util.control.NonFatal

/** Logical READ substitution for the snapshots the plain parquet scan
  * cannot serve (deletion vectors, partitioned clones, hidden or mixed
  * partition layouts — [[GraftLogTableV2.needsLoadPlan]]): replace the
  * [[LoadPlanScan]] relation with [[LogTable.load]]'s OWN logical
  * plan, aliased to the relation's output ids. It is the only way SQL
  * reads such a snapshot.
  *
  * The leaves are ordinary parquet relations with real sizes (and
  * the single-data-leaf case carries the table's manifest row count
  * + ANALYZE column stats/histograms as catalog statistics, so CBO
  * sees NDV and per-bucket selectivity), and the physical plan is the
  * same codegen'd, vectorized one the Scala `load()` API gets. Delta
  * serves its SQL reads through exactly this shape (a file relation
  * with attached stats) for the same reasons.
  *
  * Registered through `experimental.extraOptimizations` (the public
  * live-session hook, like [[GraftRowLevelStrategy]]) by every
  * [[GraftTableCatalog]] initialize. It runs after scan pushdown, so
  * it replaces the scan relation. Plans holding row-level DML are
  * left untouched: their targets must stay DSv2 relations for the
  * DML dispatch, and none of them scans its relation. Write commands
  * keep their target outside `children`, so the reads in their query
  * substitute; `AnalysisOnlyCommand`s (CACHE TABLE, views) re-plan
  * their query in a fresh execution where the rule fires. A load
  * that throws, or lacks a column the query resolved (by name and
  * type, nested nullability aside), fails the query, naming the table
  * and version. */
object GraftReadSubstitution extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rowLevel = plan.exists {
      case _: UpdateTable | _: MergeIntoTable | _: DeleteFromTable => true
      case _ => false
    }
    if (rowLevel) plan
    else plan.transform {
      case s: DataSourceV2ScanRelation if s.scan.isInstanceOf[LoadPlanScan] =>
        substituted(s.scan.asInstanceOf[LoadPlanScan], s.output)
    }
  }

  private def substituted(scan: LoadPlanScan,
                          out: Seq[AttributeReference]): LogicalPlan = {
    val sub = try attachStats(scan.log, scan.version,
        scan.log.load(SparkSession.active, scan.version)
          .queryExecution.optimizedPlan)
      catch { case NonFatal(e) => throw new IllegalStateException(
        s"cannot plan the read of ${scan.description()}: ${e.getMessage}",
        e) }
    // by name: a column added after the query resolved the table is
    // in the head snapshot load() reads, but not in the query. Nested
    // nullability is not compared: the logged schema keeps a
    // DataFrame's non-null array elements, map values and struct
    // fields, while a parquet relation reads every type as nullable
    val loaded = sub.output.map(a => a.name -> a).toMap
    Project(out.map { o =>
      val n = loaded.get(o.name)
        .filter(n => DataTypeUtils.equalsIgnoreNullability(n.dataType,
          o.dataType))
        .getOrElse(throw new IllegalStateException(
          s"${scan.description()}: load() returns " +
            s"(${sub.schema.toDDL}) where the query expects " +
            out.map(a => s"${a.name} ${a.dataType.sql}")
              .mkString("(", ", ", ")")))
      Alias(n, o.name)(exprId = o.exprId)
    }, sub)
  }

  /** DV sidecar leaves read `_dv/<id>` pair files — tiny, and not
    * the table; stats attach only to the DATA leaf. */
  private def isDvLeaf(lr: LogicalRelation): Boolean = lr.relation match {
    case f: HadoopFsRelation =>
      f.location.rootPaths.exists(_.toString.contains("/_dv/"))
    case _ => false
  }

  /** Attach manifest row counts plus the latest ANALYZE column stats
    * (NDV, bounds, lengths, equi-height histogram) as catalog
    * statistics on the plan's data leaves — the channel
    * `LogicalRelation.computeStats` already serves to the planner
    * (attribute stats under CBO, row count always). Each leaf's row
    * count comes from ITS OWN files' manifest entries (a DV read
    * splits clean and vectored files into separate legs; a clone
    * mixes roots), while the column stats are the table-wide pass —
    * bounds and NDV are valid upper estimates for any subset of
    * rows, and Spark's UnionEstimation recombines the legs. */
  private def attachStats(log: LogTable, version: Option[Long],
                          sub: LogicalPlan): LogicalPlan = {
    val leaf = sub.collect {
      case lr: LogicalRelation if !isDvLeaf(lr) => lr
    }.headOption.getOrElse(return sub)
    val (rows, bytes, _) = log.manifestStatistics(version)
    // ANALYZE stats describe the CURRENT version only — a pinned
    // historical read must not inherit a later pass's numbers
    val analyzed =
      if (version.isDefined &&
          !version.contains(log.currentVersion.getOrElse(-1L))) None
      else log.columnStatistics
    // CatalogColumnStat externalizes min/max in a TYPE-SPECIFIC
    // format (timestamps as micros strings, dates as days) — the
    // ANALYZE pass stored plain cast-to-string values, which only
    // round-trip for the plain numeric types; other columns carry
    // NDV/nulls/lengths without bounds (an absent bound is merely a
    // weaker estimate, a misparsed one fails the query)
    def plainNumeric(n: String): Boolean =
      leaf.schema.fields.find(_.name == n).map(_.dataType).exists {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType => true
        case _ => false
      }
    val colStats: Map[String, CatalogColumnStat] =
      analyzed.map(_.cols.collect {
        case (n, c) if leaf.schema.fieldNames.contains(n) =>
          n -> CatalogColumnStat(
            distinctCount = Some(BigInt(c.ndv)),
            min = c.min.filter(_ => plainNumeric(n)),
            max = c.max.filter(_ => plainNumeric(n)),
            nullCount = Some(BigInt(c.nulls)),
            avgLen = c.avgLen, maxLen = c.maxLen,
            histogram = c.histogram.filter(_.size >= 2).map { edges =>
              val nb = edges.size - 1
              val tsRows = analyzed.map(_.rows).getOrElse(rows)
              Histogram(math.max(0L, tsRows - c.nulls).toDouble / nb,
                Array.tabulate(nb)(j => HistogramBin(edges(j),
                  edges(j + 1), math.max(1L, c.ndv / nb))))
            })
      }).getOrElse(Map.empty)
    def synth(schema: org.apache.spark.sql.types.StructType,
              st: CatalogStatistics): CatalogTable = CatalogTable(
      identifier = TableIdentifier(
        s"graft_stats_${java.util.UUID.randomUUID().toString.take(8)}"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = schema, stats = Some(st))
    // per-leaf PHYSICAL row counts off the manifest — each leg of a
    // DV/clone read scans a known file subset; a directory-discovery
    // leg (hive-partitioned) resolves no per-file entries and keeps
    // its real file sizes with no row count
    val adds = log.liveAdds(version)
    val rowsByPath: Map[String, Long] =
      adds.map(a => log.absLivePath(a) -> a.rows).toMap
    def leafRows(lr: LogicalRelation): Option[Long] = lr.relation match {
      case f: HadoopFsRelation =>
        val per = f.location.rootPaths.map(p =>
          rowsByPath.get(p.toString.stripPrefix("file:")))
        if (per.nonEmpty && per.forall(_.isDefined))
          Some(per.flatten.sum)
        else None
      case _ => None
    }
    // the DV-pairs leaves need a row count too: CBO join estimation
    // only propagates attribute stats when BOTH join sides carry
    // one — without it the anti-join falls back to size-only stats
    // and the data leaf's histogram dies at the join
    val dvRows = adds.flatMap(_.dv.map(_.rows)).sum
    val tableCt = synth(leaf.schema, CatalogStatistics(
      BigInt(math.max(1L, bytes)), Some(BigInt(rows)), colStats))
    sub.transform {
      case lr: LogicalRelation
          if !isDvLeaf(lr) && lr.catalogTable.isEmpty =>
        leafRows(lr) match {
          case Some(n) => lr.copy(catalogTable = Some(synth(lr.schema,
            CatalogStatistics(
              BigInt(math.max(1L, lr.relation.sizeInBytes)),
              Some(BigInt(n)),
              colStats.filter { case (c, _) =>
                lr.schema.fieldNames.contains(c) }))))
          case None if sub.collect {
              case x: LogicalRelation if !isDvLeaf(x) => x
            }.size == 1 =>
            // single data leaf whose paths didn't resolve (discovery
            // scan): the table-wide numbers still describe it exactly
            lr.copy(catalogTable = Some(tableCt))
          case None => lr
        }
      case lr: LogicalRelation if isDvLeaf(lr) && lr.catalogTable.isEmpty =>
        lr.copy(catalogTable = Some(synth(lr.schema, CatalogStatistics(
          BigInt(math.max(1L, lr.relation.sizeInBytes)),
          Some(BigInt(math.max(0L, dvRows))), Map.empty))))
    }
  }

  /** Idempotently hook the rule into a LIVE session. */
  def register(spark: SparkSession): Unit = {
    val exp = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(GraftReadSubstitution))
        exp.extraOptimizations =
          exp.extraOptimizations :+ GraftReadSubstitution
    }
  }
}
