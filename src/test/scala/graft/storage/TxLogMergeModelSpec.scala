package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Upsert

/** Keyed merges checked against a reference model: seeded histories of
  * random `mergeInto` batches (rewrite and DV modes) and `applyChanges`
  * feeds on a small partitioned table that already carries DV-deleted
  * rows. Batches mix in-place updates, keys moved to another partition
  * and new keys; feeds add deletes, including deletes of absent keys.
  * After every commit the table must equal `Upsert.mergeByKey` (after
  * the feed's deletes) applied to the previous snapshot, and the change
  * labels of `TxLog.changes` — and, where the table captures them, the
  * write-time events of `TxLog.changeFeed` — must equal the model's.
  */
class TxLogMergeModelSpec extends SparkSpec {
  import spark.implicits._

  private type Row3 = (Long, String, Double)
  private val Parts = Seq("p0", "p1", "p2")

  private def frame(rows: Iterable[Row3]): DataFrame =
    rows.toSeq.toDF("k", "part", "v")

  /** Rows by key; a key held twice fails (a merge must never duplicate). */
  private def snapshot(df: DataFrame, ctx: String): Map[Long, Row3] = {
    val rows = df.select("k", "part", "v").as[Row3].collect()
    val byKey = rows.map(r => r._1 -> r).toMap
    assert(byKey.size == rows.length,
      s"$ctx: duplicate keys in ${rows.sortBy(_._1).mkString(", ")}")
    byKey
  }

  /** Net per-key diff labels, the contract of `TxLog.changes`. */
  private def diffLabels(before: Map[Long, Row3], after: Map[Long, Row3])
      : Set[(Long, String)] =
    (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(_)) => Some(k -> "insert")
        case (Some(_), None) => Some(k -> "delete")
        case (Some(a), Some(b)) if a != b => Some(k -> "update")
        case _ => None
      }
    }

  /** Write-time events of one merge commit: every matched key emits a
    * pre/postimage pair, a new key an insert, a deleted key a delete. */
  private def events(before: Map[Long, Row3], upserts: Seq[Long],
                     deletes: Seq[Long]): Set[(Long, String)] =
    upserts.flatMap(k =>
      if (before.contains(k)) Seq(k -> "update_preimage", k -> "update_postimage")
      else Seq(k -> "insert")).toSet ++
      deletes.filter(before.contains).map(_ -> "delete")

  /** Two files per partition, then a DV delete: every history starts
    * from a shallow clone of this table, whose files carry deleted
    * rows. The same rows are every history's first model snapshot. */
  private lazy val base: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_mm_base")
      .toString + "/tbl"
    TxLog.create(frame((1L to 6L).map(k => (k, Parts((k % 3).toInt), k.toDouble))),
      path, Some("part"), statsCols = Seq("k"))
    TxLog.append(frame((7L to 12L).map(k => (k, Parts((k % 3).toInt), k.toDouble))), path)
    TxLog.deleteWhere(spark, path, col("k") % 5 === 0, deletionVectors = true)
    path
  }
  private lazy val baseRows = snapshot(TxLog.read(spark, base), "base")

  private def history(seed: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val path = java.nio.file.Files.createTempDirectory(s"graft_mm_$seed")
      .toString + "/tbl"
    TxLog.clone(spark, base, path)
    // merge modes by seed: mergeInto runs DV on odd seeds, and a table
    // declaring merge-on-read (every third) runs both verbs DV; even
    // seeds capture write-time CDC
    val dvTable = seed % 3 == 0
    val cdf = seed % 2 == 0
    val props = Map(TxLog.DeletionVectorsProp -> dvTable, TxLog.ChangeDataFeedProp -> cdf)
      .collect { case (p, true) => p -> "true" }
    if (props.nonEmpty) TxLog.setProperties(spark, path, props)
    var model = baseRows
    var fresh = 100L
    def pick(from: Seq[Long], n: Int): Seq[Long] = rng.shuffle(from).take(n)

    (0 until 2).foreach { step =>
      val v0 = TxLog.currentVersion(spark, path).get
      val present = model.keys.toSeq.sorted
      def newV(i: Int) = ((step + 1) * 1000 + seed * 10 + i).toDouble
      def moved(k: Long) = Parts.filterNot(_ == model(k)._2)(rng.nextInt(2))
      val chosen = pick(present, 4)
      val (inPlace, toMove) = chosen.splitAt(2)
      val born = Seq(fresh, fresh + 1) ++ pick(Seq(5L, 10L), 1) // new and DV-deleted keys
      fresh += 2
      val upserts: Seq[Row3] =
        inPlace.map(k => (k, model(k)._2, newV(k.toInt))) ++
          toMove.map(k => (k, moved(k), newV(k.toInt))) ++
          born.filterNot(model.contains).map(k => (k, Parts(rng.nextInt(3)), newV(k.toInt)))
      val feedStep = step == 1
      val deletes: Seq[Long] =
        if (!feedStep) Nil
        else pick(present.filterNot(chosen.contains), 2) :+ (900L + seed) // one absent key
      val what = if (feedStep) "applyChanges" else "mergeInto"
      val ctx = s"seed $seed step $step ($what, dvTable=$dvTable)"
      val expected = snapshot(Upsert.mergeByKey(
        frame(model.values.filterNot(r => deletes.contains(r._1))), frame(upserts), Seq("k"),
        preValidated = true), s"$ctx model") // keys unique by construction
      if (feedStep) {
        val feed = upserts.map { case (k, p, v) =>
          (k, p, v, if (model.contains(k)) "update" else "insert") } ++
          deletes.map(k => (k, model.get(k).map(_._2).getOrElse("p0"), 0.0, "delete"))
        TxLog.applyChanges(path, feed.toDF("k", "part", "v", "_change_type"), Seq("k"))
      } else
        TxLog.mergeInto(path, frame(upserts), Seq("k"), deletionVectors = seed % 2 == 1)
      val v1 = TxLog.currentVersion(spark, path).get
      assert(v1 == v0 + 1, s"$ctx: one commit per verb")
      val got = snapshot(TxLog.read(spark, path), ctx)
      assert(got == expected, s"$ctx: table diverged from the model")
      val labels = TxLog.changes(spark, path, v0, v1, Seq("k"))
        .select("k", "_change_type").as[(Long, String)].collect().toSet
      assert(labels == diffLabels(model, expected), s"$ctx: change labels")
      if (cdf) {
        val feedEvents = TxLog.changeFeed(spark, path, v0, v1)
          .select("k", "_change_type").as[(Long, String)].collect().toSet
        assert(feedEvents == events(model, upserts.map(_._1), deletes),
          s"$ctx: write-time change events")
      }
      model = expected
    }
  }

  test("mergeInto and applyChanges match the reference model over 30 seeded histories") {
    // histories are independent tables: a fixed pool of four threads
    // overlaps one history's driver-side commit work with another's jobs
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      baseRows
      val runs = (1 to 30).map(seed => pool.submit(new Runnable {
        def run(): Unit = history(seed)
      }))
      runs.foreach(r =>
        try r.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally { // a failed history stops the others before the suite ends
      pool.shutdownNow()
      pool.awaitTermination(2, java.util.concurrent.TimeUnit.MINUTES)
    }
    info(f"30 histories in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
