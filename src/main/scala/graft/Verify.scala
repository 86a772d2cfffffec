package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * For the SHARDED gate family (r39-r46) a forensic sidecar is written
  * per gate into `outDir/_audit/<name>.json`: the rounds-6/7 r41/r42
  * driver hash failures never reproduced under any serial re-run, so the
  * driver record must carry evidence of WHERE a divergence arises —
  * store state (per-shard counts, routing-key overlap), result
  * stability (the written parquet vs a second evaluation of the same
  * DataFrame), and semantics (the oracle SQL executed by Spark itself
  * over the raw parquet tables, with differing rows dumped). All three
  * comparisons use one canonical multiset signature computed in-Spark at
  * materialization time, so a red CORRECTNESS entry is adjudicated on
  * data: sig(written) == sig(spark_oracle) but driver-red points at the
  * driver's hash pipeline; written != reeval points at nondeterministic
  * evaluation; a store anomaly points at the gate store.
  */
object Verify {

  /** Canonical multiset content signature of a result: columns sorted by
    * lowercased name, every value rendered to string (NULL → sentinel,
    * the contentFp rule: concat_ws silently skips nulls), rows md5'd,
    * and the hashes SUMMED in two 48-bit chunks — order-independent,
    * duplicate-sensitive, and identical across any two Spark evaluations
    * that agree on values (regardless of partitioning / slice order).
    */
  def contentSig(df: DataFrame): (Long, String) = {
    val cols = df.columns.sortBy(_.toLowerCase)
    val rowStr = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("␀null"))): _*)
    val agg = df
      .select(md5(rowStr.cast("binary")).as("h"))
      .agg(
        count(lit(1)),
        sum(conv(substring(col("h"), 1, 12), 16, 10).cast("decimal(38,0)")),
        sum(conv(substring(col("h"), 13, 12), 16, 10).cast("decimal(38,0)")))
      .head
    val n = agg.getLong(0)
    def part(i: Int): String =
      if (agg.isNullAt(i)) "0" else agg.getDecimal(i).toBigInteger.toString
    (n, s"$n:${part(1)}:${part(2)}")
  }

  /** Rendered one-string-per-row view (same canonical render as
    * [[contentSig]]) for row-level diffs.
    */
  private def renderedRows(df: DataFrame): DataFrame = {
    val cols = df.columns.sortBy(_.toLowerCase)
    df.select(concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("␀null"))): _*).as("r"))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  // Public: bodyAudit (ConnectorQueries) reuses it for the same reason.
  def jsonStr(s: String): String = q(s)
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  /** Renderer-sensitivity lint (rounds 6-8 hash failures): the driver's
    * hash pipeline renders each side with type-dependent paths, so any
    * result type whose canonical rendering is ambiguous can hash-flip
    * while rows and schema stay green.
    *
    *  - DecimalType anywhere in the output schema is BANNED: a scale-2
    *    decimal renders "570.40" exactly but "570.4" through any
    *    float/str round-trip — the r41/r42 signature. Gates emit exact
    *    scaled integers (cents) instead.
    *  - FloatType is BANNED: float32 promoted to float64 before
    *    rendering gains garbage digits (0.1f → 0.10000000149…).
    *  - DoubleType VALUES in the scientific-notation bands (|v| ≥ 1e16,
    *    or 0 < |v| < 1e-4) are flagged: renderers switch to exponent
    *    form at different thresholds, so the same double can render
    *    "1.2e+16" on one side and "12000000000000000.0" on the other.
    */
  private[graft] def lintTypes(dt: org.apache.spark.sql.types.DataType, path: String)
      : Seq[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType => Seq(s"$path: DECIMAL output column (emit scaled BIGINT)")
      case FloatType => Seq(s"$path: FLOAT output column (emit DOUBLE or scaled int)")
      case ArrayType(et, _) => lintTypes(et, s"$path[]")
      case MapType(kt, vt, _) =>
        lintTypes(kt, s"$path.key") ++ lintTypes(vt, s"$path.value")
      case StructType(fs) => fs.toSeq.flatMap(f => lintTypes(f.dataType, s"$path.${f.name}"))
      case _ => Seq.empty
    }
  }

  private def containsDouble(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType => true
      case ArrayType(et, _) => containsDouble(et)
      case MapType(kt, vt, _) => containsDouble(kt) || containsDouble(vt)
      case StructType(fs) => fs.exists(f => containsDouble(f.dataType))
      case _ => false
    }
  }

  /** True when any double reachable under `c` (through arrays, maps,
    * structs) sits in a renderer notation band. Nulls count as safe.
    */
  private def doubleHazard(dt: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    if (!containsDouble(dt)) return None
    dt match {
      case DoubleType =>
        Some(abs(c) >= 1e16 || (c =!= 0.0 && abs(c) < 1e-4))
      case ArrayType(et, _) =>
        Some(exists(c, x => coalesce(doubleHazard(et, x).get, lit(false))))
      case MapType(kt, vt, _) =>
        val kh = if (containsDouble(kt))
          Seq(exists(map_keys(c), x => coalesce(doubleHazard(kt, x).get, lit(false))))
        else Seq.empty
        val vh = if (containsDouble(vt))
          Seq(exists(map_values(c), x => coalesce(doubleHazard(vt, x).get, lit(false))))
        else Seq.empty
        (kh ++ vh).reduceOption(_ || _)
      case StructType(fs) =>
        fs.toSeq.flatMap(f => doubleHazard(f.dataType, c.getField(f.name)))
          .reduceOption(_ || _)
      case _ => None
    }
  }

  private[graft] def renderLint(df: DataFrame): Seq[String] = {
    val schemaHits = df.schema.fields.toSeq.flatMap(f => lintTypes(f.dataType, f.name))
    val hazardCols = df.schema.fields.toSeq.flatMap { f =>
      doubleHazard(f.dataType, col(f.name)).map(h =>
        f.name -> sum(when(coalesce(h, lit(false)), 1L).otherwise(0L)))
    }
    val valueHits =
      if (hazardCols.isEmpty) Seq.empty
      else {
        val row = df.agg(hazardCols.head._2, hazardCols.tail.map(_._2): _*).head
        hazardCols.map(_._1).zipWithIndex.collect {
          case (c, i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
            s"$c: ${row.getLong(i)} double value(s) in a scientific-notation band"
        }
      }
    schemaHits ++ valueHits
  }

  /** Gates that get the forensic sidecar: the sharded-store family. */
  private def audited(name: String): Boolean =
    sys.env.get("GRAFT_VERIFY_AUDIT").contains("all") ||
      name.matches("r(39|4[0-6])_.*")

  private def sidecar(
      spark: SparkSession,
      name: String,
      df: DataFrame,
      sfDir: String,
      outDir: String): Unit = {
    def tryStat(d: => DataFrame): Either[String, (Long, String)] =
      try Right(contentSig(d))
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    def statJson(r: Either[String, (Long, String)]): String = r match {
      case Right((n, s)) => jsonObj(Seq("rows" -> n.toString, "sig" -> q(s)))
      case Left(err) => jsonObj(Seq("error" -> q(err)))
    }
    // (1) exactly the bytes the driver hashes: the written parquet
    val written = tryStat(spark.read.parquet(s"$outDir/$name"))
    // (2) the SAME DataFrame evaluated again — a mismatch vs (1) means
    // the gate's result is not stable across evaluations (the class of
    // failure no serial reproduction has caught)
    val reeval = tryStat(df)
    // (3) the oracle semantics executed by Spark itself over the raw
    // parquet views (Tables.register already ran) — DuckDB-only syntax
    // lands as an error string, which is fine: the DuckDB compare still
    // runs driver-side; this cross-check targets the sharded gates,
    // whose oracles are plain ANSI
    val oracleDf = SparkEntry.oracleSql.get(name)
      .map(sql => () => spark.sql(sql))
    val oracle = oracleDf.map(f => tryStat(f())).getOrElse(Left("no oracle sql"))
    // (4) store-state evidence from the gate's own shards
    val store =
      try graft.queries.ConnectorQueries.storeAudits.get(name)
        .map(f => f(spark, sfDir)).getOrElse(Map.empty)
      catch { case e: Throwable =>
        Map("audit_error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    // (5) on a written-vs-oracle divergence, the differing rendered rows
    val diffs: Seq[(String, String)] = (written, oracle) match {
      case (Right((_, ws)), Right((_, os))) if ws != os =>
        try {
          val w = renderedRows(spark.read.parquet(s"$outDir/$name"))
          val o = renderedRows(oracleDf.get())
          def dump(d: DataFrame): String = d.limit(20).collect()
            .map(r => q(r.getString(0))).mkString("[", ", ", "]")
          Seq(
            "diff_written_minus_oracle" -> dump(w.exceptAll(o)),
            "diff_oracle_minus_written" -> dump(o.exceptAll(w)))
        } catch { case e: Throwable =>
          Seq("diff_error" -> q(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      case _ => Seq.empty
    }
    val eq = for { w <- written; r <- reeval } yield (w._2 == r._2).toString
    val eqO = for { w <- written; o <- oracle } yield (w._2 == o._2).toString
    val json = jsonObj(Seq(
      "gate" -> q(name),
      "written" -> statJson(written),
      "reeval" -> statJson(reeval),
      "spark_oracle" -> statJson(oracle),
      "written_eq_reeval" -> eq.getOrElse("null"),
      "written_eq_spark_oracle" -> eqO.getOrElse("null")) ++
      diffs ++
      Seq("store" -> jsonObj(store.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })))
    // plain FILES in outDir, not a subdirectory: the driver's compare
    // treats every outDir DIRECTORY as a gate result (rows-only check),
    // so a sidecar dir would surface as a bogus unreadable entry
    Files.writeString(Paths.get(s"$outDir/$name.audit.json"), json + "\n")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only name filter: Verify <sfDir> <outDir> [name ...]
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.localSession("graft-verify", cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    // gate bodies consult this to emit their own body-time store
    // snapshots into the audit dir (pre-materialization evidence)
    sys.props.put("graft.verify.audit", outDir)
    val lintHits = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        try renderLint(spark.read.parquet(s"$outDir/$name"))
          .foreach(h => lintHits += s"$name/$h")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name render lint failed: ${e.getMessage}")
        }
        if (audited(name))
          try sidecar(spark, name, df, sfDir, outDir)
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name audit failed: ${e.getMessage}")
          }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries may cache intermediates (d02/d03); drop between queries
      // so the battery's memory footprint stays flat
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // fail AFTER all artifacts are written so the driver's compare still
    // has a full record; a nonzero exit makes the hazard loud builder-side
    if (lintHits.nonEmpty) {
      lintHits.foreach(h => System.err.println(s"[verify] RENDER-LINT $h"))
      sys.error(s"render lint flagged ${lintHits.size} hazard(s): " +
        lintHits.mkString("; "))
    }
  }
}
