package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ord.{OrdComponent, OrdDataset, OrdFixtures, OrdIdent, OrdMeasurement,
  OrdOutcome, OrdRaw, OrdReaction, OrdTab}

import java.util.SplittableRandom

/** Seeded synthetic ORD corpus in the program's own data model.
  *
  * The corpus is described by a small driver-side [[Plan]] (one entry per
  * dataset: file, position in file, reaction count) and every dataset is a
  * pure function of (seed, plan entry), so executors can build the rows in
  * parallel while the driver keeps only the metadata it needs to know every
  * request's answer. The same seed always yields the same corpus.
  *
  * Coverage: both file shapes (v2 files carry outcome measurements, v1
  * files the vestigial outcome amount and SMILES-only identifiers), all 11
  * reaction roles, all 9 identifier types, the moles/volume/mass/none
  * amount kinds, empty datasets, failed reactions, envelope totals that
  * disagree with the stored reactions, and a heavy-tailed
  * reactions-per-dataset distribution. Dataset ids are unique across files.
  */
object OrdGen {

  /** The program's catalog file order (OrdApi numbers datasets by it). */
  val Files: Seq[String] = Seq(
    "ord_formatted_data.json", "ord_formatted_data_one.json",
    "ord_formatted_data_two.json", "ord_formatted_data_three.json",
    "ord_formatted_data_single.json")
  private val V2Files = Set(0, 2)
  private val FileWeights = Array(0.35, 0.3, 0.15, 0.12, 0.08)

  val Roles: IndexedSeq[String] = IndexedSeq("UNSPECIFIED", "REACTANT", "REAGENT",
    "SOLVENT", "CATALYST", "WORKUP", "INTERNAL_STANDARD", "AUTHENTIC_STANDARD",
    "PRODUCT", "BYPRODUCT", "SIDE_PRODUCT")
  val IdTypes: IndexedSeq[String] = IndexedSeq("UNSPECIFIED", "CUSTOM", "SMILES",
    "INCHI", "MOLBLOCK", "IUPAC_NAME", "NAME", "CAS_NUMBER", "PUBCHEM_CID")
  private val Units = Map(
    "moles" -> IndexedSeq("MOLE", "MILLIMOLE", "MICROMOLE", "NANOMOLE"),
    "volume" -> IndexedSeq("LITER", "MILLILITER", "MICROLITER", "NANOLITER"),
    "mass" -> IndexedSeq("KILOGRAM", "GRAM", "MILLIGRAM", "MICROGRAM"))
  private val TabNames = IndexedSeq("m1", "m2", "m3", "solvent", "catalyst",
    "m1_m2", "workup", "Reactant 1", "Base")

  /** One dataset of the corpus. `g` is its catalog position (0-based,
    * global), `pos` its position within its file. */
  final case class Entry(g: Int, fileIdx: Int, pos: Int, nRx: Int, id: String) {
    def file: String = Files(fileIdx)
    def shape: String = if (V2Files(fileIdx) && nRx > 0) "v2" else "v1"
  }

  final case class Plan(seed: Long, entries: IndexedSeq[Entry]) {
    def totalReactions: Long = entries.iterator.map(_.nRx.toLong).sum
  }

  /** `datasets` datasets holding about `reactions` reactions in total,
    * reactions per dataset drawn from a capped Pareto(1.2) tail with 5%
    * empty datasets. Entries come back in catalog order. */
  def plan(seed: Long, datasets: Int, reactions: Int): Plan = {
    val r = new SplittableRandom(seed)
    val raw = Array.fill(datasets) {
      if (r.nextDouble() < 0.05) 0.0
      else math.min(400.0, 1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.2))
    }
    val scale = reactions / raw.sum
    val counts = raw.map(w => if (w == 0.0) 0 else math.max(1, math.round(w * scale).toInt))
    val files = Array.fill(datasets) {
      val u = r.nextDouble()
      FileWeights.scanLeft(0.0)(_ + _).tail.indexWhere(u < _) match {
        case -1 => FileWeights.length - 1
        case i => i
      }
    }
    val perFile = Array.fill(Files.size)(0)
    val unsorted = (0 until datasets).map { i =>
      val f = files(i)
      val pos = perFile(f); perFile(f) += 1
      (f, pos, counts(i), f"ord_dataset-$i%06x${r.nextLong() & 0xffffffffffL}%010x")
    }
    val entries = unsorted.sortBy(e => (e._1, e._2)).zipWithIndex.map {
      case ((f, pos, n, id), g) => Entry(g, f, pos, n, id)
    }
    Plan(seed, entries)
  }

  private def rng(seed: Long, g: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + g)

  /** Reaction ids of a dataset, in stored order — the driver-side answer
    * key, computable without building the dataset. */
  def reactionIds(seed: Long, e: Entry): IndexedSeq[String] =
    (0 until e.nRx).map(i => f"ord-${e.g}%06x-$i%05x-${(seed ^ (e.g.toLong << 20) ^ i) & 0xffffff}%06x")

  def dataset(seed: Long, e: Entry): OrdDataset = {
    val r = rng(seed, e.g)
    val v2 = e.shape == "v2"
    val ids = reactionIds(seed, e)
    val reactions = ids.zipWithIndex.map { case (rid, i) => reaction(r, rid, i, v2) }
    // 2% of envelopes disagree with their stored reactions (the
    // envelope self-check's mismatch case)
    val total = if (r.nextDouble() < 0.02) e.nRx + 1 else e.nRx
    OrdDataset(e.file, e.shape, e.pos, e.id, total.toLong, reactions)
  }

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  private def idents(r: SplittableRandom, v2: Boolean): Seq[OrdIdent] =
    (0 to r.nextInt(if (v2) 3 else 2)).map { k =>
      val t = if (v2) pick(r, IdTypes) else "SMILES"
      OrdIdent(t, s"C${r.nextInt(100000)}${"O" * k}N")
    }

  private def reaction(r: SplittableRandom, id: String, pos: Int, v2: Boolean): OrdReaction = {
    if (r.nextDouble() < 0.03) return OrdReaction(pos, id, success = false, Nil, Nil)
    val tabs = (0 to r.nextInt(3)).map { _ =>
      val comps = (0 to r.nextInt(3)).map { c =>
        val kinds = if (v2) IndexedSeq("moles", "volume", "mass", "none")
          else IndexedSeq("moles", "volume", "none")
        val kind = pick(r, kinds)
        val (value, units) =
          if (kind == "none") (None, null)
          else {
            // v1 hardcodes MOLE/LITER; v2 decodes the unit enum
            val u = if (v2) pick(r, Units(kind)) else Units(kind).head
            (Some(r.nextInt(1, 500000) / 1000.0), u)
          }
        OrdComponent(c, idents(r, v2), kind, value, units, pick(r, Roles))
      }
      OrdTab(pick(r, TabNames), comps)
    }
    val outcomes = (0 to r.nextInt(2)).map { o =>
      val ms = if (!v2) Nil else (0 to r.nextInt(2)).map { _ =>
        val hasMass = r.nextBoolean()
        OrdMeasurement(Some(r.nextInt(1, 12)), s"yield ${r.nextInt(100)}%",
          if (hasMass) Some(r.nextInt(1, 90000) / 100.0) else None,
          if (hasMass) pick(r, Units("mass")) else null)
      }
      OrdOutcome(o, idents(r, v2), "PRODUCT", is_desired_product = o == 0,
        has_vestigial_amount = !v2, measurements = ms)
    }
    OrdReaction(pos, id, success = true, tabs, outcomes)
  }

  /** The compact JSON of each reaction, as OrdFixtures stores it in the
    * raw fixture (the reaction node of the rendered file). */
  def raws(mapper: ObjectMapper, ds: OrdDataset): Seq[OrdRaw] = {
    val rx = OrdFixtures.renderFile(mapper, Seq(ds)).get(ds.dataset_id).get("reactions")
    ds.reactions.indices.map(i =>
      OrdRaw(ds.file, ds.dataset_id, ds.reactions(i).reaction_id, rx.get(i).toString))
  }

  /** Order-sensitive digest of a JSON tree in which every number is read
    * as a double: a saved file that renders `1.5` as `1.5` and a rebuilt
    * tree holding `1.5` as a DoubleNode compare equal, any other
    * difference (key, order, value, type) does not. */
  def jsonDigest(n: JsonNode): String = {
    val sb = new StringBuilder
    def go(x: JsonNode): Unit =
      if (x.isObject) {
        sb.append('{')
        x.properties.forEach { e => sb.append(e.getKey).append(':'); go(e.getValue); sb.append(',') }
        sb.append('}')
      } else if (x.isArray) {
        sb.append('['); x.elements.forEachRemaining { c => go(c); sb.append(',') }; sb.append(']')
      } else if (x.isNumber) sb.append("n").append(x.asDouble)
      else sb.append(x.getNodeType).append(x.asText)
    go(n)
    Digest.of(sb.toString)
  }
}

object Digest {
  def of(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(12).map(b => f"$b%02x").mkString
  }
}
