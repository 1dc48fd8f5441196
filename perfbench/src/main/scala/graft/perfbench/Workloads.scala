package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DataPipelineDemo, PipelineDemo, SparkEntry, Tables}
import graft.functions.{ChannelStats, Physics, Tensors}
import graft.operators.{LinearSigmoidScorer, ScalerPipeline, Scorer, Split, SurvivalCurve}
import graft.sources.NpzIngest

/** A closed-loop workload: `pass` runs one unit of timed work, `check`
  * adds the output checks that need extra jobs and so run untimed.
  */
trait Workload {
  /** What one pass processes: events, documents or queries. */
  def items: Long
  def pass(p: Pass, traced: Boolean): Unit
  def check(p: Pass): Unit = ()
}

object Fingerprint {
  /** Order-insensitive digest of collected rows. */
  def rows(rs: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rs.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The reference's workflow in the order `PipelineDemo.main` runs it:
  * archive ingest, dataset build, rotation augmentation, scaler fit,
  * scoring and the survival curve. Every pass works in a directory of its
  * own, so the ingest checkpoint and the landed archives are always new.
  */
final class Reference(spark: SparkSession, work: String, seed: Long,
                      events: Long, ingestRows: Int) extends Workload {
  val items: Long = events
  // the seed shifts the event ids, and with them the split and the
  // rotation samples; the generated range stays [0, events), sliced evenly
  // over the cores as in PipelineDemo.main
  private val offset = Math.floorMod(seed, 1000L) * events
  private val rnd = new scala.util.Random(seed)
  private val matrices = Array.fill(ingestRows * 256)(rnd.nextInt(4096) / 16.0)
  private val features = Array.tabulate(ingestRows * 12)(f =>
    if (f % 12 == 0) (f / 12 % 3).toDouble else rnd.nextInt(4096) / 16.0)

  private def dir(p: Pass) = s"$work/pass-${p.id}"

  def pass(p: Pass, traced: Boolean): Unit = {
    val d = dir(p)
    p.op("ref.ingest") {
      NpzIngest.writeNpz(spark, s"$d/landing/demo_matrices.npz",
        Seq(("matrices", "<f4", Seq(ingestRows, 16, 16), matrices)))
      NpzIngest.writeNpz(spark, s"$d/landing/demo_features.npz",
        Seq(("features", "<f8", Seq(ingestRows, 12), features)))
      NpzIngest.streamToParquet(spark, s"$d/landing", s"$d/ingested", s"$d/ingest_ckpt")
      val ingested = spark.read.parquet(s"$d/ingested")
      val n = ingested.where(col("array") === "features")
        .select(col("idx").as("event_id"), col("values").as("features"))
        .join(ingested.where(col("array") === "matrices")
          .select(col("idx").as("event_id"), col("values").as("matrix")), "event_id")
        .count()
      p.get("ref.ingest").out = n.toString
      if (n != ingestRows) p.fail("ref.ingest", s"unified $n rows, landed $ingestRows")
    }
    val built = p.op("ref.build") {
      PipelineDemo.syntheticEvents(spark, events)
        .withColumn("event_id", col("event_id") + offset)
        .withColumn("dir_x", Physics.dirX(col("zenith"), col("azimuth")))
        .withColumn("dir_y", Physics.dirY(col("zenith"), col("azimuth")))
        .withColumn("dir_z", Physics.dirZ(col("zenith")))
        .withColumn("split", Split.assignSplit(col("event_id"), 21))
        .write.mode("overwrite").partitionBy("split").parquet(s"$d/events")
    }
    val augmented = built.flatMap(_ => p.op("ref.augment") {
      val train = spark.read.parquet(s"$d/events").where(col("split") === "train")
      (1 to 3).foldLeft(train) { (acc, k) =>
        acc.unionAll(
          Split.sample(train, col("event_id"), 21 + k, 30)
            .withColumn("core_x", Physics.rotateX(col("core_x"), k))
            .withColumn("core_y", Physics.rotateY(col("core_y"), k))
            .withColumn("azimuth", Physics.rotateAz(col("azimuth"), k))
            .withColumn("edep", Tensors.rot90(col("edep"), 16, k)))
      }.drop("split").write.mode("overwrite").parquet(s"$d/train_augmented")
    })
    val fitted = augmented.flatMap(_ => p.op("ref.fit") {
      val trainAug = spark.read.parquet(s"$d/train_augmented")
      val grid = trainAug
        .agg(ChannelStats.channelStats(flatten(col("edep")), 256).as("s"))
        .select(explode(col("s")).as("st")).select("st.mean", "st.stddev")
        .agg(avg("mean").as("mu"), avg("stddev").as("sigma")).head()
      val mu = grid.getDouble(0)
      if (!(mu > 0 && mu < 1)) p.fail("ref.fit", s"grid mean $mu outside (0, 1)")
      ScalerPipeline.save(spark, ScalerPipeline.fit(trainAug, Seq(
        "log_energy" -> ScalerPipeline.Standard,
        "zenith" -> ScalerPipeline.Standard)), s"$d/stats")
    })
    def test = spark.read.parquet(s"$d/events").where(col("split") === "test")
    val scored = fitted.flatMap(_ => p.op("ref.score") {
      import spark.implicits._
      val scaled = ScalerPipeline.apply(test, ScalerPipeline.load(spark, s"$d/stats"))
      Scorer.scoreKeyed(
        scaled.select(col("event_id"), col("label").cast("int"),
          array(col("log_energy_scaled"), col("zenith_scaled")).as("f"))
          .as[(Long, Int, Array[Double])],
        LinearSigmoidScorer(0.1, Array(0.8, -0.4)))
        .withColumnsRenamed(Map("key1" -> "event_id", "key2" -> "label", "score" -> "p"))
        .write.mode("overwrite").parquet(s"$d/scored")
    })
    scored.foreach(_ => p.op("ref.curve") {
      val rows = SurvivalCurve.curve(
        spark.read.parquet(s"$d/scored")
          .join(test.select("event_id", "zenith", "log_energy"), "event_id")
          .where(col("zenith") >= 0 && col("zenith") < 30 &&
            col("log_energy") >= 14 && col("log_energy") < 15),
        col("p"), col("label") === 0, 1000).collect().sortBy(_.getAs[Number](0).longValue)
      p.get("ref.curve").out = Fingerprint.rows(rows)
      val monotone = rows.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) <= b.getDouble(2) && a.getDouble(3) <= b.getDouble(3)
        case _ => true
      }
      if (rows.length != 1000 || !monotone ||
          rows.last.getDouble(2) != 1.0 || rows.last.getDouble(3) != 1.0)
        p.fail("ref.curve", s"curve of ${rows.length} rows is not monotone up to 1.0")
    })
  }

  override def check(p: Pass): Unit = {
    val d = dir(p)
    if (p.get("ref.build").error.isEmpty) {
      val all = spark.read.parquet(s"$d/events")
      val n = all.count()
      p.get("ref.build").out = n.toString
      if (n != events) p.fail("ref.build", s"wrote $n events of $events")
      if (p.ops.exists(o => o.name == "ref.augment" && o.error.isEmpty)) {
        val train = all.where(col("split") === "train")
        val want = train.count() +
          (1 to 3).map(k => Split.sample(train, col("event_id"), 21 + k, 30).count()).sum
        val got = spark.read.parquet(s"$d/train_augmented").count()
        p.get("ref.augment").out = got.toString
        if (got != want) p.fail("ref.augment", s"augmented $got rows, train + samples = $want")
      }
      if (p.ops.exists(o => o.name == "ref.score" && o.error.isEmpty)) {
        val want = all.where(col("split") === "test").count()
        val got = spark.read.parquet(s"$d/scored").count()
        p.get("ref.score").out = got.toString
        if (got != want) p.fail("ref.score", s"scored $got rows of $want test events")
      }
    }
  }
}

/** The curation funnel: `DataPipelineDemo.clean`, then `stages`, every stage
  * materialized in funnel order. A traced pass calls each public stage
  * function on its own instead, with the persist or checkpoint `stages`
  * applies to its result, so eager work (connected-components rounds,
  * k-means iterations, the local checkpoint) lands in the span of the
  * stage that causes it.
  */
final class Curation(spark: SparkSession, data: String) extends Workload {
  import DataPipelineDemo._
  private val Names = Seq("blocked", "quality", "exact", "scrub", "near", "sem",
    "decon", "tilt", "packed", "mixed")
  /** Operations per pass: the funnel's stages. */
  val items: Long = Names.size.toLong

  def pass(p: Pass, traced: Boolean): Unit = {
    def materialize(name: String, df: DataFrame): Unit = {
      val o = p.get(s"cur.$name")
      if (name == "mixed") {
        val rows = df.collect()
        o.out = s"${rows.length}:${Fingerprint.rows(rows)}"
      } else o.out = df.count().toString
    }
    if (traced) {
      // each step reads the stage before it; the inputs are read inside
      // the first span that uses them, so no span-less time is left
      var prev: DataFrame = null
      val steps: Seq[() => DataFrame] = Seq(
        () => blockGate(clean(Tables.documents(spark, data))),
        () => qualityGate(prev).persist(), () => exactDedup(prev).persist(),
        () => spanScrub(prev).persist(), () => lshDedup(prev),
        () => semanticDedup(prev, Tables.embeddings(spark, data)).persist(),
        () => decontaminate(prev).localCheckpoint(), () => domainTilt(prev),
        () => pack(prev).persist(), () => mixture(prev))
      Names.zip(steps).forall { case (name, step) =>
        p.op(s"cur.$name") { prev = step(); materialize(name, prev) }.isDefined
      }
    } else {
      val st = try Right(stages(clean(Tables.documents(spark, data)), Tables.embeddings(spark, data)))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      Names.foreach { name =>
        p.op(s"cur.$name") { st.fold(e => throw e, m => materialize(name, m(name))) }
      }
    }
    // funnel invariants: no stage adds documents, packing keeps every doc
    val n = Names.map(k => k -> p.ops.find(_.name == s"cur.$k")
      .filter(_.error.isEmpty).map(_.out.takeWhile(_ != ':').toLong))
    n.sliding(2).foreach {
      case Seq((_, Some(a)), (k, Some(b))) if b > a =>
        p.fail(s"cur.$k", s"funnel grew from $a to $b documents")
      case _ =>
    }
    val count = n.toMap
    (count("tilt"), count("packed")) match {
      case (Some(t), Some(pk)) if t != pk => p.fail("cur.packed", s"packed $pk of $t docs")
      case _ =>
    }
    if (count("decon").contains(0L))
      p.fail("cur.decon", "no document survived decontamination")
  }
}

/** Oracle-checked catalog queries, each issued once per pass in an order
  * the seed shuffles; the tables do not depend on the seed.
  */
final class Catalog(spark: SparkSession, data: String, seed: Long,
                    queries: Seq[String]) extends Workload {
  val items: Long = queries.size.toLong
  private val all = SparkEntry.queries
  private val order = new scala.util.Random(seed).shuffle(queries)

  def pass(p: Pass, traced: Boolean): Unit =
    order.foreach { q =>
      p.op(s"q.$q") { p.get(s"q.$q").out = Fingerprint.rows(all(q)(spark, data).collect()) }
    }
}

/** The curation funnel, then the catalog queries, in one pass: the side of
  * the library that shuffles, joins and runs driver rounds, against which
  * `Reference` is the row-local control.
  */
final class CurationMix(funnel: Curation, mix: Catalog) extends Workload {
  val items: Long = funnel.items + mix.items
  def pass(p: Pass, traced: Boolean): Unit = {
    funnel.pass(p, traced)
    mix.pass(p, traced)
  }
}
