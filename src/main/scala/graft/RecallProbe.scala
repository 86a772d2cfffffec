package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: measure LSH/IVF recall@5 vs brute force at a scale dir for
  * several operating points (sweep for the s03/s04 quality gates).
  *
  * Optional second arg SCALE (default 1) synthesizes a SCALE× corpus by
  * unioning CYCLICALLY DIMENSION-SHIFTED copies (fresh vec_ids; a shift
  * is an orthogonal transform, so each copy reproduces the base corpus's
  * full cluster geometry while being pseudo-uncorrelated with every
  * other copy — NOT near-duplicate jitter, which would make every
  * probe's top-5 its own clones and read recall 1.0 vacuously). This is
  * the probe that confirms the auto-k law (cells = ceil(sqrt(N)),
  * nprobe = 0.75k) holds beyond the shipped testdata sizes before anyone
  * trusts it at real scale (VERDICT r11 item 8). The exact baseline is
  * recomputed over the scaled corpus with the same cosine/tie rules as
  * SimilarityQueries.exactTop5.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val scale = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = Bench.localSession("recall-probe", "8", "ERROR")
    Tables.register(spark, dir)

    val e0 = spark.table("embeddings")
    val scaled =
      if (scale <= 1) e0
      else {
        val maxId = e0.agg(max("vec_id")).head.getLong(0) + 1
        (0 until scale).map { c =>
          if (c == 0) e0
          else e0.select(
            (col("vec_id") + lit(c * maxId)).as("vec_id"),
            expr(s"transform(embedding, (x, i) -> element_at(embedding, " +
              s"pmod(i + $c * 7, size(embedding)) + 1))").as("embedding"),
            col("label"))
        }.reduce(_ unionByName _)
      }
    val e = scaled
    val probes = e.filter(col("vec_id") < 100)
    val corpus = e.repartition(math.max(8, 8 * scale)).cache()

    // unscaled: the gates' own baseline — shared so the sweep can't drift
    // from s03/s04; scaled: the same brute-force shape over the synthetic
    // corpus
    val exact = (
      if (scale <= 1) graft.queries.SimilarityQueries.exactTop5(spark)
      else {
        val p = probes
          .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
          .withColumn("pn", graft.ops.vector.vec_norm_sq(col("pe")))
        val n0 = corpus
          .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
          .withColumn("nn", graft.ops.vector.vec_norm_sq(col("ne")))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("neighbor_id"))
        broadcast(p).join(n0, col("probe_id") =!= col("neighbor_id"))
          .select(col("probe_id"), col("neighbor_id"),
            (graft.ops.vector.vec_dot(col("pe"), col("ne")) /
              sqrt(col("pn") * col("nn"))).as("cos"))
          .select(col("probe_id"), col("neighbor_id"),
            row_number().over(w).as("rank"))
          .filter(col("rank") <= 5)
          .select("probe_id", "neighbor_id")
      }).cache()
    val total = exact.count().toDouble

    def recall(ann: DataFrame): Double =
      ann.select("probe_id", "neighbor_id").join(exact, Seq("probe_id", "neighbor_id"))
        .count() / total

    val n = corpus.count()
    println(s"corpus=$n scale=$scale autoCells=${graft.ops.AnnIvf.autoCells(n)}")
    // legacy fixed point + the auto-scaled point at several nprobe
    // fractions — the sweep that pins the gates' operating points
    // (scaled runs probe only the auto-k law's own operating points)
    val cellsSweep =
      if (scale > 1) Seq(graft.ops.AnnIvf.autoCells(n))
      else Seq(16, graft.ops.AnnIvf.autoCells(n))
    val fracSweep =
      if (scale > 1) Seq(0.5, 0.75) else Seq(0.25, 0.4, 0.5, 0.6, 0.75)
    for (cells <- cellsSweep) {
      val idx = graft.ops.AnnIvf.buildIndex(corpus, "vec_id", "embedding",
        numCells = cells, trainSampleFraction = 0.5, maxIter = 10)
      for (frac <- fracSweep) {
        val nprobe = math.max(1, math.ceil(cells * frac).toInt)
        val r = recall(graft.ops.AnnIvf.annTopK(idx, probes, "vec_id", "embedding",
          k = 5, nprobe = nprobe))
        println(f"IVF cells=$cells nprobe=$nprobe (frac=$frac) train=0.5 recall@5=$r%.3f")
      }
    }
    // two-level quantizer (the beyond-driver-envelope build, VERDICT r12
    // item 2): same auto-k law, k1 = ceil(sqrt(k)) supers trained
    // distributed, per-super local sub-quantizers — recall must hold the
    // 0.95 bar at scale for the path to be trusted
    for (cells <- cellsSweep) {
      val idx2 = graft.ops.AnnIvf.buildIndexTwoLevel(
        corpus, "vec_id", "embedding", numCells = cells)
      val k1 = idx2.superCenters.length
      val kTot = idx2.subCenters.count()
      for ((sf, cf) <- Seq((0.75, 0.5), (0.9, 0.75), (1.0, 0.75))) {
        val np1 = math.max(1, math.ceil(k1 * sf).toInt)
        val np = math.max(1, math.ceil(cells * cf).toInt)
        val r = recall(graft.ops.AnnIvf.annTopK2(idx2, probes,
          "vec_id", "embedding", k = 5, nprobeSuper = np1, nprobe = np))
        println(f"IVF2 k=$cells (k1=$k1 subs=$kTot) nprobeSuper=$np1 " +
          f"nprobe=$np recall@5=$r%.3f")
      }
    }
    // stored-index loader auto-route (VERDICT r13 item 3): the same flat
    // persisted tables probed through loadStored, once on the flat route
    // and once FORCED through the two-level derivation (cap below k) —
    // recall must match, proving the auto-route loses nothing when k
    // outgrows the driver cap at real scale
    {
      val k = graft.ops.AnnIvf.autoCells(n)
      val idx = graft.ops.AnnIvf.buildIndex(corpus, "vec_id", "embedding",
        numCells = k, trainSampleFraction = 0.5, maxIter = 10)
      val cells = graft.ops.AnnIvf.cellsTable(idx, "vec_id", "embedding")
      val cents = graft.ops.AnnIvf.centroidsTable(idx, spark)
      val nprobe = math.max(1, math.ceil(0.75 * k).toInt)
      val flat = graft.ops.AnnIvf.loadStored(cells, cents, "vec_id", "embedding")
      val rFlat = recall(flat.topK(probes, "vec_id", "embedding", 5, nprobe))
      val two = graft.ops.AnnIvf.loadStored(cells, cents, "vec_id", "embedding",
        driverCentroidCap = 1)
      val rTwo = recall(two.topK(probes, "vec_id", "embedding", 5, nprobe))
      println(f"STORED flat-route recall@5=$rFlat%.3f (route=" +
        f"${flat.getClass.getSimpleName}) two-level-route recall@5=$rTwo%.3f " +
        f"(route=${two.getClass.getSimpleName}, k=$k nprobe=$nprobe)")
    }
    for ((tables, planes) <- Seq((32, 5))) {
      val r = recall(graft.ops.AnnLsh.annTopK(corpus, probes, "vec_id", "embedding", 64,
        k = 5, numTables = tables, numPlanes = planes))
      println(f"LSH tables=$tables planes=$planes recall@5=$r%.3f")
    }
    // incremental maintenance (VERDICT r14 item 6): train on HALF the
    // corpus, append the other half via assignToStored (nearest existing
    // cell, NO retrain), probe the combined index against the full
    // exact baseline — recall at 2x growth must hold the 0.90 gate, and
    // needsRetrain must still say "append" at this growth (sqrt law:
    // 2x rows = 1.41x auto-k, under the 2x retrain factor)
    {
      val base = corpus.filter(col("vec_id") % 2 === 0)
      val grown = corpus.filter(col("vec_id") % 2 === 1)
      val built = graft.ops.AnnIvf.buildIndex(base, "vec_id", "embedding",
        trainSampleFraction = 0.5, maxIter = 10)
      val appended = graft.ops.AnnIvf.assignToStored(
        graft.ops.AnnIvf.StoredFlat(built), grown, "vec_id", "embedding")
      val allCells = graft.ops.AnnIvf.cellsTable(built, "vec_id", "embedding")
        .unionByName(appended).cache()
      val inc = graft.ops.AnnIvf.fromTables(allCells,
        graft.ops.AnnIvf.centroidsTable(built, spark), "vec_id", "embedding")
      val k = built.centers.length
      val nprobe = math.max(1, math.ceil(0.75 * k).toInt)
      val r = recall(graft.ops.AnnIvf.annTopK(inc, probes, "vec_id", "embedding",
        k = 5, nprobe = nprobe))
      val retrain = graft.ops.AnnIvf.needsRetrain(k.toLong, n)
      println(f"INCREMENTAL half-built k=$k nprobe=$nprobe 2x-growth " +
        f"recall@5=$r%.3f needsRetrain(2x)=$retrain (expect false) " +
        f"needsRetrain(8x)=${graft.ops.AnnIvf.needsRetrain(k.toLong, n * 8)} (expect true)")
    }
    spark.stop()
  }
}
