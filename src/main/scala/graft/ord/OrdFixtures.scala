package graft.ord

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.jdk.CollectionConverters._

/** ORD data model — the reference's formatted output shape
  * (SURVEY.md §1.2; `/root/reference/web_scrpaer_2.py:82-192`).
  *
  * `inputsMap` is an ASSOCIATION LIST in the source JSON — an array of
  * 2-element `[tab_name, input]` arrays whose order is load-bearing
  * (`web_scraper.py:471-477`) — modeled here as an ordered
  * `array<struct<tab_name, components>>`, never a map.
  *
  * The tagged-union `amount` (`web_scrpaer_2.py:124-145`: exactly one of
  * moles|volume|mass, or absent) is normalized to the wide
  * `(amount_kind, amount_value, amount_units)` form for relational work;
  * the nested union form is rebuilt by `OrdPipeline` queries when needed.
  */
case class OrdIdent(id_type: String, id_value: String)
case class OrdComponent(
    comp_pos: Int,
    identifiers: Seq[OrdIdent],
    amount_kind: String, // moles | volume | mass | none
    amount_value: Option[Double],
    amount_units: String,
    reaction_role: String)
case class OrdTab(tab_name: String, components: Seq[OrdComponent])
case class OrdMeasurement(
    m_type: Option[Int], // raw int code, deliberately not decoded (web_scrpaer_2.py:172)
    details: String,
    mass_value: Option[Double],
    mass_units: String)
case class OrdOutcome(
    out_pos: Int,
    identifiers: Seq[OrdIdent],
    reaction_role: String,
    is_desired_product: Boolean,
    has_vestigial_amount: Boolean, // v1's always-empty amount (ord_formatted_data_single.json:144)
    measurements: Seq[OrdMeasurement])
case class OrdReaction(
    rx_pos: Int,
    reaction_id: String,
    success: Boolean,
    inputsMap: Seq[OrdTab],
    outcomes: Seq[OrdOutcome])
case class OrdDataset(
    file: String,
    shape: String, // v1 (vestigial outcome amount) | v2 (measurements)
    ds_pos: Int, // position within its file — the top-level JSON map's key
                 // order is SCRAPE-ARRIVAL order (unsorted in the golden
                 // files), load-bearing for byte-exact re-rendering
    dataset_id: String,
    total_reactions_scraped: Long,
    reactions: Seq[OrdReaction])
case class OrdRaw(file: String, dataset_id: String, reaction_id: String, raw: String)

/** Converts the reference's five checked-in golden JSON files
  * (`/root/reference/ord_formatted_data*.json`, read-only) into two
  * parquet fixtures under `target/fixtures`:
  *
  *  - `ord_nested_v2.parquet` — one row per dataset, full nested schema
  *                              (path carries the schema version)
  *  - `ord_raw.parquet`       — one row per reaction with its compact raw
  *                              JSON (the S4 `from_json` input)
  *
  * The top-level JSON object is keyed by dataset_id (dynamic keys), so it
  * is parsed driver-side with Jackson (which preserves key order) rather
  * than with `spark.read.json` — the files are tiny (≤650 KB); all heavy
  * lifting stays in Spark over the parquet.
  */
object OrdFixtures {

  val fixtureDir: String = graft.util.PathKeys.fixtureRoot
  // _v2: fixture schema is versioned in the path so a stale on-disk
  // fixture from an older schema can never be silently read
  def nestedPath: String = s"$fixtureDir/ord_nested_v2.parquet"
  def rawPath: String = s"$fixtureDir/ord_raw.parquet"

  // corpus catalog order — OrdApi's global dataset numbering follows
  // this declaration order, not an alphabetical re-sort of file names
  private[ord] val files = Seq(
    "ord_formatted_data.json", "ord_formatted_data_one.json",
    "ord_formatted_data_two.json", "ord_formatted_data_three.json",
    "ord_formatted_data_single.json")

  /** Idempotently build the fixtures (checked via parquet _SUCCESS). */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (!new File(s"$nestedPath/_SUCCESS").exists() ||
        !new File(s"$rawPath/_SUCCESS").exists()) {
      val (datasets, raws) = parseAll()
      import spark.implicits._
      // Tiny fixture: one file each so the DuckDB oracle globs exactly one
      // deterministic parquet. Real data paths never coalesce(1).
      datasets.toDS().coalesce(1).write.mode("overwrite").parquet(nestedPath)
      raws.toDS().coalesce(1).write.mode("overwrite").parquet(rawPath)
    }
  }

  def parseAll(): (Seq[OrdDataset], Seq[OrdRaw]) = {
    val mapper = new ObjectMapper()
    val out = files.flatMap { f =>
      val root = mapper.readTree(graft.util.PathKeys.golden(f).toFile)
      root.properties.asScala.toSeq.zipWithIndex.map { case (e, i) =>
        parseDataset(f, e.getKey, e.getValue, i)
      }
    }
    val datasets = out.map(_._1)
    val raws = out.flatMap(_._2)
    (datasets, raws)
  }

  /** Inverse of the parse: rebuild the reference's exact JSON shape
    * (map keyed by dataset_id, assoc-list inputsMap, tagged-union
    * amount, vestigial v1 outcome amount) from the normalized model.
    * OrdRoundTripSpec deep-compares this against the original files —
    * the proof that the wide/normalized model is lossless. */
  def renderFile(mapper: ObjectMapper, datasets: Seq[OrdDataset]): JsonNode = {
    val root = mapper.createObjectNode()
    datasets.foreach { ds =>
      val env = root.putObject(ds.dataset_id)
      env.put("dataset_id", ds.dataset_id)
      env.put("total_reactions_scraped", ds.total_reactions_scraped)
      val rxArr = env.putArray("reactions")
      ds.reactions.foreach { rx =>
        val r = rxArr.addObject()
        r.put("reaction_id", rx.reaction_id)
        r.put("success", rx.success)
        val tabs = r.putArray("inputsMap")
        rx.inputsMap.foreach { tab =>
          val pair = tabs.addArray() // assoc-list entry: [name, {components}]
          pair.add(tab.tab_name)
          val comps = pair.addObject().putArray("components")
          tab.components.foreach { c =>
            val cn = comps.addObject()
            val ids = cn.putArray("identifiers")
            c.identifiers.foreach { id =>
              val i = ids.addObject()
              i.put("type", id.id_type); i.put("value", id.id_value)
            }
            val amt = cn.putObject("amount")
            if (c.amount_kind != "none") {
              val sub = amt.putObject(c.amount_kind)
              sub.put("value", c.amount_value.get)
              sub.put("units", c.amount_units)
            }
            cn.put("reaction_role", c.reaction_role)
          }
        }
        val outs = r.putArray("outcomes")
        rx.outcomes.foreach { o =>
          val on = outs.addObject()
          val ids = on.putArray("identifiers")
          o.identifiers.foreach { id =>
            val i = ids.addObject()
            i.put("type", id.id_type); i.put("value", id.id_value)
          }
          if (o.has_vestigial_amount) on.putObject("amount") // v1: always {}
          on.put("reaction_role", o.reaction_role)
          on.put("is_desired_product", o.is_desired_product)
          if (o.measurements.nonEmpty) {
            val ms = on.putArray("measurements")
            o.measurements.foreach { m =>
              val mn = ms.addObject()
              m.m_type.foreach(t => mn.put("type", t))
              mn.put("details", m.details)
              if (m.mass_value.isDefined || m.mass_units != null) {
                val mass = mn.putObject("mass")
                m.mass_value.foreach(v => mass.put("value", v))
                if (m.mass_units != null) mass.put("units", m.mass_units)
              }
            }
          }
        }
      }
    }
    root
  }

  private def optText(n: JsonNode, k: String, default: String = null): String =
    if (n.hasNonNull(k)) n.get(k).asText else default

  private def parseDataset(
      file: String, key: String, env: JsonNode, pos: Int): (OrdDataset, Seq[OrdRaw]) = {
    val reactions = Option(env.get("reactions")).map(_.elements.asScala.toSeq)
      .getOrElse(Seq.empty)
    val parsed = reactions.zipWithIndex.map { case (rx, i) => parseReaction(rx, i) }
    // v2-shaped reactions carry `measurements` on outcomes; v1 the
    // vestigial `amount` (web_scraper.py:494-501 vs web_scrpaer_2.py:184-189).
    val shape =
      if (parsed.exists(_.outcomes.exists(_.measurements.nonEmpty))) "v2"
      else "v1"
    val ds = OrdDataset(
      file = file, shape = shape, ds_pos = pos,
      dataset_id = optText(env, "dataset_id", key),
      total_reactions_scraped =
        Option(env.get("total_reactions_scraped")).map(_.asLong).getOrElse(0L),
      reactions = parsed)
    val raws = reactions.zipWithIndex.map { case (rx, i) =>
      OrdRaw(file, ds.dataset_id, parsed(i).reaction_id, rx.toString)
    }
    (ds, raws)
  }

  private def parseReaction(rx: JsonNode, pos: Int): OrdReaction = {
    val tabs = Option(rx.get("inputsMap")).map(_.elements.asScala.toSeq)
      .getOrElse(Seq.empty)
      .map { pair => // assoc-list entry: [tab_name, {components: [...]}]
        val tabName = pair.get(0).asText
        val comps = Option(pair.get(1).get("components"))
          .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
          .zipWithIndex.map { case (c, i) => parseComponent(c, i) }
        OrdTab(tabName, comps)
      }
    val outcomes = Option(rx.get("outcomes")).map(_.elements.asScala.toSeq)
      .getOrElse(Seq.empty)
      .zipWithIndex.map { case (o, i) => parseOutcome(o, i) }
    OrdReaction(
      rx_pos = pos,
      reaction_id = optText(rx, "reaction_id", ""),
      success = Option(rx.get("success")).forall(_.asBoolean(true)),
      inputsMap = tabs,
      outcomes = outcomes)
  }

  /** Tagged-union amount → wide form (web_scrpaer_2.py:124-145). */
  private def parseAmount(a: JsonNode): (String, Option[Double], String) = {
    if (a == null) ("none", None, null)
    else Seq("moles", "volume", "mass").collectFirst {
      case k if a.hasNonNull(k) =>
        val sub = a.get(k)
        (k, Some(sub.get("value").asDouble), optText(sub, "units", "UNKNOWN"))
    }.getOrElse(("none", None, null))
  }

  private def parseIdents(n: JsonNode): Seq[OrdIdent] =
    Option(n.get("identifiers")).map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
      .map(id => OrdIdent(optText(id, "type", "UNKNOWN"), optText(id, "value", "")))

  private def parseComponent(c: JsonNode, pos: Int): OrdComponent = {
    val (kind, value, units) = parseAmount(c.get("amount"))
    OrdComponent(
      comp_pos = pos,
      identifiers = parseIdents(c),
      amount_kind = kind, amount_value = value, amount_units = units,
      reaction_role = optText(c, "reaction_role", "UNKNOWN"))
  }

  private def parseOutcome(o: JsonNode, pos: Int): OrdOutcome = {
    val measurements = Option(o.get("measurements"))
      .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
      .map { m =>
        val mass = Option(m.get("mass"))
        OrdMeasurement(
          m_type = Option(m.get("type")).map(_.asInt),
          details = optText(m, "details", ""),
          mass_value = mass.filter(_.hasNonNull("value")).map(_.get("value").asDouble),
          mass_units = mass.map(x => optText(x, "units", "UNKNOWN")).orNull)
      }
    OrdOutcome(
      out_pos = pos,
      identifiers = parseIdents(o),
      reaction_role = optText(o, "reaction_role", "PRODUCT"),
      is_desired_product =
        Option(o.get("is_desired_product")).exists(_.asBoolean(false)),
      has_vestigial_amount = o.has("amount"),
      measurements = measurements)
  }
}
