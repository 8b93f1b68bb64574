package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.TxTable

/** The TxTable log format: manifests in the older shape (commit-level
  * `stats`/`bloom` beside the per-dir `zones`/`szones`/`dblooms`)
  * still resolve as they always did, new commits write per-dir entries
  * only, a shallow clone prunes like its source, and footer string
  * zones never under-cover a dir.
  */
class TxTableLogFormatSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifest(root: String, v: Long): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(Files.readAllBytes(Paths.get(root, "_txlog", f"v$v%010d.json")))

  test("manifests in the older format resolve to the same dirs, DVs and pruned sets") {
    val base = tmpDir("txtable_legacy_")
    // A root that breaks naive JSON interpolation and comma splitting.
    val root = s"""$base/we"ird,ta]ble"""
    try {
      def band(letter: String, lo: Long): String = {
        val d = s"$root/data/$letter-dir"
        (lo until lo + 100).map(k => (k, f"$letter$k%03d")).toDF("k", "s")
          .coalesce(1).write.parquet(d)
        d
      }
      val Seq(d1, d2, d3, d4, d7) =
        Seq(("a", 0L), ("b", 100L), ("c", 200L), ("d", 300L), ("e", 400L))
          .map { case (l, lo) => band(l, lo) }
      val dv = s"$root/data/dv-dir"
      spark.read.parquet(d1).filter(col("k") % 10 === 0)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("row_index"))
        .write.parquet(dv)
      val log = Files.createDirectories(Paths.get(root, "_txlog"))
      val bos = new java.io.ByteArrayOutputStream()
      spark.read.parquet(d2).stat.bloomFilter("k", 100L, 0.03).writeTo(bos)
      Files.write(log.resolve("b0000000002.bloom"), bos.toByteArray)

      // The entries exactly as the older writer printed them: paths
      // escaped by hand, everything else interpolated.
      def q(p: String) = "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def arr(ps: String*) = ps.map(q).mkString("[", ",", "]")
      def h(s: String) = TxTable.toHex(s)
      def szone(i: Int, lo: String, hi: String) =
        s"""{"i":$i,"column":"s","slo":"${h(lo)}","shi":"${h(hi)}"}"""
      val manifests = Seq(
        s"""{"version":1,"action":"append","dirs":${arr(d1)},"stats":{"column":"k","min":0,"max":99}}""",
        s"""{"version":2,"action":"append","dirs":${arr(d2)},"bloom":{"column":"k","file":"b0000000002.bloom"}}""",
        s"""{"version":3,"action":"append","dirs":${arr(d3)},"zones":[{"i":0,"column":"k","min":200,"max":299}],"szones":[${szone(0, "c200", "c299")}]}""",
        s"""{"version":4,"action":"append","dirs":${arr(d4)},"szones":[${szone(0, "d300", "d399")}]}""",
        s"""{"version":5,"action":"delete","dirs":[],"dvs":${arr(dv)}}""",
        s"""{"version":6,"action":"checkpoint","dirs":${arr(d1, d2, d3, d4)},""" +
          """"zones":[{"i":0,"column":"k","min":0,"max":99},{"i":2,"column":"k","min":200,"max":299}],""" +
          """"dblooms":[{"i":1,"column":"k","file":"b0000000002.bloom"}],""" +
          s""""szones":[${szone(2, "c200", "c299")},${szone(3, "d300", "d399")}],"dvs":${arr(dv)}}""",
        s"""{"version":7,"action":"append","dirs":${arr(d7)},"stats":{"column":"k","min":400,"max":499}}""")
      manifests.zipWithIndex.foreach { case (m, i) =>
        Files.write(log.resolve(f"v${i + 1}%010d.json"), m.getBytes("UTF-8"))
      }
      Files.write(log.resolve("_last_checkpoint"), "6".getBytes("UTF-8"))

      val t = new TxTable(root)
      def check(): Unit = {
        assert(t.resolveDirs() == Seq(d1, d2, d3, d4, d7))
        assert(t.resolveDvDirs() == Seq(dv))
        assert(t.resolveDirsRange("k", 0, 50) == Seq(d1, d2, d4))
        assert(t.resolveDirsRange("k", 250, 450) == Seq(d2, d3, d4, d7))
        assert(t.resolveDirsRangeString("s", "d", "dz") == Seq(d1, d2, d4, d7))
        assert(t.resolveDirsEquals("k", 150) == Seq(d1, d2, d3, d4, d7))
        assert(t.resolveDirsEquals("k", 5) == Seq(d1, d3, d4, d7))
        assert(t.snapshot(spark).count() == 490L)
        assert(t.snapshotRange(spark, "k", 0, 50).count() == 45L)
        assert(t.snapshotRangeString(spark, "s", "d", "dz").count() == 100L)
        assert(t.snapshotEquals(spark, "k", 150).count() == 1L)
      }
      check()
      assert(t.resolveDirs(Some(2)) == Seq(d1, d2))
      assert(t.resolveDvDirs(Some(4)).isEmpty)
      assert(t.resolveDirsRange("k", 0, 50, Some(4)) == Seq(d1, d2, d4))
      // The checkpoint alone carries the state: move its history aside.
      val aside = Files.createDirectories(Paths.get(base, "aside"))
      (1 to 5).foreach { v =>
        val p = log.resolve(f"v$v%010d.json")
        Files.move(p, aside.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      check()
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }

  test("new commits write per-dir index entries only, never commit-level stats or bloom") {
    val base = tmpDir("txtable_newfmt_")
    val root = s"$base/t"
    try {
      val t = new TxTable(root)
      val v1 = t.appendWithStats((0L until 10L).toDF("k"), "k")
      val v2 = t.appendWithBloom((10L until 20L).toDF("k"), "k")
      val v3 = t.appendWithStatsString(Seq("x", "y").toDF("s"), "s")
      for (v <- Seq(v1, v2, v3)) {
        val m = manifest(root, v)
        assert(!m.has("stats") && !m.has("bloom"), m.toString)
      }
      assert(manifest(root, v1).get("zones").get(0).get("min").asLong == 0L)
      assert(manifest(root, v2).get("dblooms").size == 1)
      assert(manifest(root, v3).get("szones").get(0).get("shi").asText == TxTable.toHex("y"))
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }

  test("a shallow clone's string-range and point-lookup pruning equals the source's") {
    val base = tmpDir("txtable_clone_")
    try {
      val t = new TxTable(s"$base/src")
      Seq("alpha", "beta", "gamma").foreach(p =>
        t.appendWithStatsString((0 until 20).map(i => (s"$p$i", i.toLong)).toDF("cat", "k"), "cat"))
      (0 until 3).foreach(b =>
        t.appendWithBloom((0 until 50).map(i => (s"z$b", b * 1000L + i)).toDF("cat", "k"), "k"))
      val c = t.shallowCloneTo(s"$base/clone")
      val all = t.resolveDirs()
      assert(c.resolveDirs() == all)
      for ((lo, hi) <- Seq(("a", "azzz"), ("b", "g"), ("gamma", "gamma9"), ("0", "zz"))) {
        assert(c.resolveDirsRangeString("cat", lo, hi) == t.resolveDirsRangeString("cat", lo, hi))
      }
      assert(t.resolveDirsRangeString("cat", "a", "azzz").size < all.size)
      for (k <- Seq(5L, 1005L, 2049L, 7777L))
        assert(c.resolveDirsEquals("k", k) == t.resolveDirsEquals("k", k))
      assert(t.resolveDirsEquals("k", 1005L).size < all.size)
      assert(c.snapshotEquals(spark, "k", 1005L).count() == 1L)
      assert(c.snapshotRangeString(spark, "cat", "a", "azzz").count() == 20L)
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }

  test("prop: footer string zones equal min/max or are absent; pruned reads equal the filter") {
    val base = tmpDir("txtable_szone_prop_")
    val root = s"$base/t"
    try {
      val word = Gen.oneOf(
        Gen.const(""),
        Gen.alphaStr.map(_.take(6)),
        Gen.oneOf("Zürich", "zurich", "日本語", "éa", "ea", "ÿ", "a\u0000b", "😀"),
        Gen.oneOf("x" * 5000, "ü" * 2100 + "a", "b" * 4097))
      val cell = Gen.frequency(5 -> word.map(Option(_)), 1 -> Gen.const(Option.empty[String]))
      val batch = Gen.oneOf(
        Gen.listOfN(4, cell),
        Gen.const(List.fill(3)(Option.empty[String])), // all null
        Gen.const(List.empty[Option[String]]),          // empty
        Gen.chooseNum(1, 8).flatMap(Gen.listOfN(_, cell)))
      val batches = Gen.listOfN(12, batch)(Gen.Parameters.default, Seed(20261020L)).get
      val t = new TxTable(root)
      batches.foreach { rows =>
        val df = rows.toDF("s")
        val v = t.appendWithStatsString(df, "s")
        val zone = Option(manifest(root, v).get("szones")).map(_.get(0))
        val present = rows.flatten
        zone.foreach { z =>
          val r = df.agg(min("s"), max("s")).head()
          assert(TxTable.fromHex(z.get("slo").asText) == r.getString(0), rows)
          assert(TxTable.fromHex(z.get("shi").asText) == r.getString(1), rows)
        }
        // Short non-null values always yield a zone: skipping happens.
        if (present.nonEmpty && present.forall(_.getBytes("UTF-8").length < 1000))
          assert(zone.isDefined, rows)
        if (present.isEmpty) assert(zone.isEmpty, rows)
      }
      val bounds = Seq("", "a", "e", "x", "é", "日", "😀")
      for (lo <- bounds; hi <- bounds if lo <= hi) {
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.select("s").as[String].collect().toSeq.sorted
        assert(rows(t.snapshotRangeString(spark, "s", lo, hi)) ==
          rows(t.snapshot(spark).filter(col("s").between(lo, hi))), (lo, hi))
      }
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }
}
