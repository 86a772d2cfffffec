package graft.client

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The CollapsingMergeTree sequence view orders parts by full path, not
  * by basename: streaming epoch publishes land as
  * `.epoch-parts/<marker>/p<id>/<part>` and two of them can share a
  * basename. The store root carries a space, so the view's path keys
  * must match `_metadata.file_path`'s URI form (percent-encoded), not
  * the OS path.
  */
class SeqViewSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft seq view ").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("seq-view-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val client: EmbeddedClickHouse = {
    spark // the embedded server runs in a child of the active session
    val c = new EmbeddedClickHouse(root)
    c.createDatabase("main")
    c
  }

  test("FINAL over epoch parts sharing a basename collapses in insertion order") {
    client.createTable("main", "cc", Seq(
      "id" -> "Int64", "sign" -> "Int8", "v" -> "Int64"),
      Map("engine" -> "CollapsingMergeTree(sign)", "order_by" -> "id"))
    val sch = client.sparkSchema("main", "cc")
    client.stageInsert("main", "cc", sch,
      Seq(Row(1L, 1.toByte, 10L), Row(2L, 1.toByte, 5L)), "s0")
    client.stageInsert("main", "cc", sch,
      Seq(Row(1L, (-1).toByte, 10L), Row(1L, 1.toByte, 20L)), "s1")
    // give s1's part s0's basename (same insert sequence): the publish
    // lands them as p0/<name> and p1/<name>, ordered by path
    val staging = Paths.get(root, "main", "cc", ".insert-staging")
    def part(id: String) =
      NioFiles.list(staging.resolve(id)).find(_.toString.endsWith(".parquet")).get
    val name = part("s0").getFileName
    Files.move(part("s1"), staging.resolve("s1").resolve(name))
    client.commitEpochStaged("main", "cc", "epoch-1", Seq(("s0", 0), ("s1", 1)))
    val epoch = Paths.get(root, "main", "cc", ".epoch-parts", "epoch-1")
    assert(Files.exists(epoch.resolve("p0").resolve(name)))
    assert(Files.exists(epoch.resolve("p1").resolve(name)))

    val (_, parts) = client.query(
      "SELECT `id`, `sign`, `v` FROM `main`.`cc` FINAL ORDER BY `id`", 1)
    val rows = parts.flatten.map(r => (r.getLong(0), r.getByte(1).toInt, r.getLong(2)))
    assert(rows == Seq((1L, 1, 20L), (2L, 1, 5L)), rows.toString)
  }
}
