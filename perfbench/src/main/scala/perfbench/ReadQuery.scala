package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.query.{DynamicQuery, SqlOrder}

/** One dynamic query of the read mix, kept as data so that the same
  * request can be issued through `DynamicQuery` and written as DuckDB SQL.
  * Joins are inner joins on `tdei_dataset_id`; `page` is (page, size).
  */
final case class ReadQuery(table: String, columns: Seq[String], joins: Seq[String],
    conds: Seq[(String, Any)], order: Option[(String, Boolean)], page: (Int, Int)) {

  def ordered: Boolean = order.isDefined

  def build(dq: DynamicQuery): DataFrame = {
    dq.buildSelect(table, columns)
    var src = table
    joins.foreach { j => dq.buildInnerJoin(src, j, "tdei_dataset_id"); src = j }
    conds.foreach { case (c, v) => dq.condition(c, v) }
    order.foreach { case (c, asc) => dq.buildOrder(c, if (asc) SqlOrder.ASC else SqlOrder.DESC) }
    dq.buildPagination(page._1, page._2)
    dq.getQuery()
  }

  /** The same request in DuckDB SQL over the stored parquet files, with
    * the builder's paging rule: skip = (page - 1) * size, take ≤ 50.
    */
  def duckSql(root: String): String = {
    def from(t: String) =
      s"read_parquet('$root/content_$t/*/*.parquet', hive_partitioning = true)"
    def lit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case seq: Seq[_] => seq.map(lit).mkString(",")
      case o => o.toString
    }
    val where = conds.map { case (c, v) => c.replace("?", lit(v)) }
    val (p, size) = page
    val skip = if (p <= 1) 0 else (p - 1) * size
    val take = math.min(size, 50)
    s"SELECT ${columns.mkString(", ")} FROM ${from(table)} AS t0" +
      joins.zipWithIndex.map { case (j, i) => s" JOIN ${from(j)} AS t${i + 1} USING (tdei_dataset_id)" }.mkString +
      (if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", "")) +
      order.map { case (c, asc) => s" ORDER BY $c ${if (asc) "ASC" else "DESC"}" }.getOrElse("") +
      s" LIMIT $take OFFSET $skip"
  }
}

object ReadQuery {

  /** A seeded mix over the loaded datasets (id, node rows); the first
    * dataset is the large one.
    */
  def mix(rnd: java.util.Random, datasets: Seq[(String, Long)], n: Int): IndexedSeq[ReadQuery] = {
    val ids = datasets.map(_._1)
    val large = ids.head
    def anyId = if (rnd.nextInt(3) == 0) ids(rnd.nextInt(ids.size)) else large
    def someIds = scala.util.Random.javaRandomToRandom(rnd).shuffle(ids).take(2 + rnd.nextInt(2))
    def pick[T](xs: T*) = xs(rnd.nextInt(xs.size))
    val largeNodes = datasets.head._2.toInt
    (0 until n).map { _ =>
      rnd.nextInt(8) match {
        case 0 => // shallow page of one dataset
          ReadQuery("node", Seq("feature"), Nil, Seq("tdei_dataset_id = ?" -> anyId),
            Some("feature" -> true), (1 + rnd.nextInt(3), pick(10, 25, 50)))
        case 1 => // deep page of the large dataset
          val size = 50
          ReadQuery("node", Seq("feature", "requested_by"), Nil,
            Seq("tdei_dataset_id = ?" -> large), Some("feature" -> rnd.nextBoolean()),
            (100 + rnd.nextInt(math.max(1, largeNodes / size - 101)), size))
        case 2 => // IN-list over datasets
          ReadQuery("edge", Seq("feature"), Nil, Seq("tdei_dataset_id IN (?)" -> someIds),
            Some("feature" -> false), (1 + rnd.nextInt(2), 20))
        case 3 => // one join: features with their dataset metadata
          ReadQuery("node", Seq("feature", "node_info"), Seq("dataset"),
            Seq("tdei_dataset_id = ?" -> anyId), Some("feature" -> true),
            (1 + rnd.nextInt(5), 10))
        case 4 => // two joins: edges, dataset metadata and the edge stats row
          ReadQuery("edge", Seq("feature", "event_info", "feature_count"),
            Seq("dataset", "stats"),
            Seq("tdei_dataset_id IN (?)" -> someIds, "layer_table = ?" -> "edge"),
            Some("feature" -> true), (1 + rnd.nextInt(2), 25))
        case 5 => // stats of a few datasets (at most 50 rows: no order needed)
          ReadQuery("stats", Seq("tdei_dataset_id", "layer_table", "geometry_type",
            "feature_count", "min_lon", "max_lat"), Nil,
            Seq("tdei_dataset_id IN (?)" -> someIds), None, (1, 50))
        case 6 => // one dataset row
          ReadQuery("dataset", Seq("tdei_dataset_id", "node_info", "zone_info"), Nil,
            Seq("tdei_dataset_id = ?" -> anyId), None, (1, 10))
        case _ => // attribute filter inside the feature JSON
          ReadQuery("node", Seq("feature"), Nil,
            Seq("tdei_dataset_id = ?" -> anyId,
              "feature LIKE ?" -> s"""%"highway":"${pick("steps", "crossing", "footway")}"%"""),
            Some("feature" -> true), (1 + rnd.nextInt(2), 20))
      }
    }
  }

  /** Files, bytes and rows the scans of an executed query read. */
  def scanMetrics(df: DataFrame): Map[String, Double] = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    def m(k: String) = ss.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
    Map("files" -> m("numFiles"), "bytes" -> m("filesSize"), "rows" -> m("numOutputRows"))
  }
}
