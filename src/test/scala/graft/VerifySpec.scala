package graft

import java.nio.file.{Files, Paths}

import graft.gates.Gate

/** Verify keeps dumping after a gate throws and lists every failure. */
class VerifySpec extends SparkSpec {

  test("a throwing gate is listed in errors.json and the other gates still run") {
    val out = tmpDir("verify_")
    val gates = Seq(
      Gate("g_ok", (s, d) => Tables.region(s, d), "SELECT 1"),
      Gate("g_bad", (_, _) => throw new IllegalStateException("boom"), "SELECT 2"),
      Gate("g_after", (s, d) => Tables.nation(s, d), "SELECT 3"))
    val errors = Verify.dump(spark, sf, out, gates)
    assert(errors.keySet == Set("g_bad"))
    assert(errors("g_bad").contains("boom"))
    Seq("g_ok", "g_after").foreach(g => assert(spark.read.parquet(s"$out/$g").count() > 0))
    val manifest = Files.readString(Paths.get(s"$out/errors.json"))
    assert(manifest.startsWith("{\"g_bad\": ") && manifest.contains("boom"), manifest)
    assert(Files.readString(Paths.get(s"$out/oracle_sql.json")) ==
      "{\"g_ok\": \"SELECT 1\",\"g_bad\": \"SELECT 2\",\"g_after\": \"SELECT 3\"}")
    graft.TmpIO.deleteRecursively(new java.io.File(out))
  }
}
