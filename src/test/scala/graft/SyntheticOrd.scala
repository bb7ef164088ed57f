package graft

import graft.ord._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** A small nested ORD fixture written to a temp dir, plus a plain-Scala
  * model of what every `OrdApi` mode returns over it. It never touches
  * `OrdFixtures.fixtureDir` (whose `_SUCCESS` marker is trusted as
  * golden-derived); specs reach it through `OrdApi.over(path)`.
  *
  * Shape: two files, named so that catalog order (`_three` before
  * `_single`) differs from alphabetical order; stored dataset order that
  * is not sorted by id; an empty dataset; one dataset id in both files;
  * rows written shuffled over three parquet part files. */
object SyntheticOrd {
  val three = "ord_formatted_data_three.json"
  val single = "ord_formatted_data_single.json"
  /** The two files in catalog order (`OrdFixtures.files` puts `_three`
    * fourth and `_single` fifth). */
  val catalogFiles: Seq[String] = Seq(three, single)

  private def reaction(file: String, id: String, i: Int): OrdReaction =
    OrdReaction(
      rx_pos = i,
      reaction_id = s"$id@${file.stripSuffix(".json")}#$i",
      success = i % 3 != 1,
      inputsMap = Seq(OrdTab("reactant", Seq(OrdComponent(0,
        Seq(OrdIdent("SMILES", s"C$i")), "mass", Some(1.5 + i), "GRAM",
        "REACTANT")))),
      outcomes = Seq(OrdOutcome(0, Seq(OrdIdent("NAME", s"product $i")),
        "PRODUCT", is_desired_product = true, has_vestigial_amount = false,
        Seq(OrdMeasurement(Some(3), "yield", Some(0.25 * i), "GRAM")))))

  private def dataset(file: String, pos: Int, id: String, n: Int) =
    OrdDataset(file, "v2", pos, id, n.toLong,
      (0 until n).map(reaction(file, id, _)))

  /** Every dataset, in catalog order. */
  val datasets: Seq[OrdDataset] = Seq(
    dataset(three, 0, "ds-c", 3),
    dataset(three, 1, "ds-a", 0), // empty: still takes catalog number 2
    dataset(three, 2, "ds-shared", 2),
    dataset(three, 3, "ds-b", 4),
    dataset(single, 0, "ds-shared", 1),
    dataset(single, 1, "ds-z", 5),
    dataset(single, 2, "ds-e", 2))

  /** The nested parquet, written once per test JVM and deleted at its exit. */
  lazy val path: String = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft-synthetic-ord")
    sys.addShutdownHook(graft.streaming.DocStreams.deleteTree(root))
    val dir = root.resolve("nested")
    // stored row order is neither catalog nor id order
    val shuffled = Seq(5, 2, 0, 6, 3, 1, 4).map(datasets)
    shuffled.toDS().repartition(3).write.parquet(dir.toString)
    dir.toString
  }

  lazy val api: OrdApi = OrdApi.over(path)

  /** One result row as every read mode returns it. */
  case class Rx(file: String, id: String, ds: Int, rx: Int,
      reactionId: String, success: Boolean)

  val columns: Seq[String] =
    Seq("file", "dataset_id", "ds_pos", "rx_pos1", "reaction_id", "success")

  def rows(df: DataFrame): Seq[Rx] = {
    assert(df.columns.toSeq == columns, df.columns.mkString(","))
    df.collect().toSeq.map(r => Rx(r.getString(0), r.getString(1),
      r.getInt(2), r.getInt(3), r.getString(4), r.getBoolean(5)))
  }

  /** Mode 1 of the model: the corpus scope's datasets numbered 1.. in
    * catalog order, then every reaction in (dataset number, position)
    * order; the other modes filter it. */
  def all(corpus: Option[String]): Seq[Rx] =
    datasets.filter(d => corpus.forall(_ == d.file))
      .sortBy(d => (catalogFiles.indexOf(d.file), d.ds_pos))
      .zipWithIndex.flatMap { case (d, i) =>
        d.reactions.sortBy(_.rx_pos).map(r =>
          Rx(d.file, d.dataset_id, i + 1, r.rx_pos + 1, r.reaction_id, r.success))
      }

  /** Counts the Spark jobs `body` submits from this thread; a failure of
    * `body` is returned, not thrown. */
  def jobsOf[T](spark: SparkSession)(body: => T): (Try[T], Int) = {
    val (out, descriptions) = jobDescriptionsOf(spark)(body)
    (out, descriptions.size)
  }

  /** The description of each Spark job `body` submits from this thread
    * (and the threads it starts), in submission order — `None` for a
    * job without one. A marker job submitted afterwards is delivered
    * after every event of `body` (the listener bus is FIFO), so the list
    * is complete when its start arrives. */
  def jobDescriptionsOf[T](spark: SparkSession)(body: => T): (Try[T], Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobBudget"
    val tag = UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[Option[String]]
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)).orNull match {
          case `tag` => jobs.add(Option(j.properties.getProperty("spark.job.description")))
          case m if m == s"$tag-end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = Try(body)
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
