package graft.pipeline

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.Row

import graft.merge.MergeInto._
import graft.streaming.WriteStreamConfig

/** Per-table ingestion config parsed from a `table_details` control row —
  * the metadata that drives everything in the reference (reference
  * M/configbuilder/Start.scala:131-191; row schema per the canonical fixture
  * R/inmobi/parquet2delta.csv and DDL T/configbuilder/StartTest.scala:28-54).
  *
  * The embedded JSON dialects are preserved verbatim, including the
  * reference's field spelling `condtionType`, so existing control rows work
  * unchanged:
  *   - `op_config`  = {"format":..,"triggerMode":..,"triggerDuration":..}
  *   - `merge_cond` = [{"condtionType":"match"|"notmatch", "deleteOption":..,
  *                      "condition":.., "updateInsertMap":{..}}]  (SCD1/4)
  *                  | {"matchCondition":.., "updateMap":{..}, "insertMap":{..}} (SCD2)
  */
final case class TableConfig(
    pipelineDefId: String,
    tableName: String,
    scdType: String = "scd1",              // scd1 | scd2 | scd4
    joinKeys: Seq[String] = Nil,           // "a" or "a = b" specs
    partitionKeys: Seq[String] = Nil,
    dedupKeys: Seq[String] = Nil,
    omittedCols: Seq[String] = Nil,
    updatedAtCol: String = "updated_at",
    extraJoinCond: Option[String] = None,
    matched: Seq[WhenMatched] = Seq(WhenMatched(None, UpdateAll)),
    notMatched: Seq[WhenNotMatched] = Seq(WhenNotMatched(None, InsertAll)),
    scd2Spec: Option[(String, Map[String, String], Map[String, String])] = None,
    writeConfig: Option[WriteStreamConfig] = None)

object TableConfig {
  private implicit val fmt: Formats = DefaultFormats

  private def splitList(s: String): Seq[String] =
    Option(s).map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Parse the reference's merge_cond clause array into our MERGE ADT
    * (ref clause extraction at M/configbuilder/Start.scala:151-176; ADTs
    * M/writter/BaseWritter.scala:21-34). */
  def parseMergeCond(json: String): (Seq[WhenMatched], Seq[WhenNotMatched]) = {
    if (json == null || json.trim.isEmpty) return (Nil, Nil)
    JsonMethods.parse(json) match {
      case JArray(items) =>
        val matched = Seq.newBuilder[WhenMatched]
        val notMatched = Seq.newBuilder[WhenNotMatched]
        items.foreach { item =>
          val cond = (item \ "condition").extractOpt[String].filter(_.nonEmpty)
          // NB: extractOpt[Map] turns a MISSING key into Some(empty map);
          // an absent/empty map must mean updateAll/insertAll, so filter it
          val setMap = (item \ "updateInsertMap").extractOpt[Map[String, String]]
            .filter(_.nonEmpty)
          (item \ "condtionType").extractOpt[String].getOrElse("match") match {
            case "match" =>
              val del = (item \ "deleteOption").extractOpt[Boolean].getOrElse(false)
              val action =
                if (del) Delete
                else setMap.map(UpdateExpr(_)).getOrElse(UpdateAll)
              matched += WhenMatched(cond, action)
            case "notmatch" =>
              val action = setMap.map(InsertExpr(_)).getOrElse(InsertAll)
              notMatched += WhenNotMatched(cond, action)
            case other => throw new IllegalArgumentException(s"bad condtionType: $other")
          }
        }
        (matched.result(), notMatched.result())
      case _ => (Nil, Nil)
    }
  }

  /** Parse the SCD2 merge spec (matchCondition + updateMap + insertMap,
    * ref mergeSCD2Options extraction M/configbuilder/Start.scala:178-188). */
  def parseScd2Spec(json: String): Option[(String, Map[String, String], Map[String, String])] = {
    if (json == null || json.trim.isEmpty) return None
    val v = JsonMethods.parse(json)
    (v \ "matchCondition").extractOpt[String].map { mc =>
      (mc,
        (v \ "updateMap").extractOpt[Map[String, String]].getOrElse(Map.empty),
        (v \ "insertMap").extractOpt[Map[String, String]].getOrElse(Map.empty))
    }
  }

  /** Parse op_config into a WriteStreamConfig (checkpoint location is
    * supplied by the caller — it is per-deployment, not per-row). */
  def parseOpConfig(json: String, checkpointLocation: String): Option[WriteStreamConfig] = {
    if (json == null || json.trim.isEmpty) return None
    val v = JsonMethods.parse(json)
    Some(WriteStreamConfig(
      checkpointLocation = checkpointLocation,
      outputMode = (v \ "outputMode").extractOpt[String].getOrElse("update"),
      format = (v \ "format").extractOpt[String].getOrElse("parquet"),
      triggerMode = (v \ "triggerMode").extractOpt[String].getOrElse("AvailableNow"),
      triggerDuration = (v \ "triggerDuration").extractOpt[String].getOrElse("2 minutes")))
  }

  /** Build from a table_details Row (by field name; missing fields -> defaults). */
  def fromRow(row: Row, checkpointLocation: String = "/tmp/graft-ckpt"): TableConfig = {
    def str(f: String): String =
      if (row.schema.fieldNames.contains(f) && !row.isNullAt(row.fieldIndex(f)))
        row.getAs[Any](f).toString
      else ""
    val scd = str("scd_type").toLowerCase
    val (m, nm) =
      if (scd == "scd2") (Nil, Nil) else parseMergeCond(str("merge_cond"))
    TableConfig(
      pipelineDefId = str("pipeline_def_id"),
      tableName = str("table_name"),
      scdType = scd,
      joinKeys = splitList(str("join_key")),
      partitionKeys = splitList(str("partition_id_col")),
      dedupKeys = splitList(str("updated_at_col")),
      omittedCols = splitList(str("omitted_cols")),
      updatedAtCol = Option(str("updated_at_col")).filter(_.nonEmpty)
        .map(_.split(",").head.trim).getOrElse("updated_at"),
      extraJoinCond = Option(str("extra_join_cond")).filter(_.nonEmpty),
      matched = if (m.isEmpty && scd != "scd2") Seq(WhenMatched(None, UpdateAll)) else m,
      notMatched = if (nm.isEmpty && scd != "scd2") Seq(WhenNotMatched(None, InsertAll)) else nm,
      scd2Spec = if (scd == "scd2") parseScd2Spec(str("merge_cond")) else None,
      writeConfig = parseOpConfig(str("op_config"),
        s"$checkpointLocation/${str("pipeline_def_id")}"))
  }
}
