package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** docs/PLANS.md regenerates byte-stably: run-dependent ids and names
  * are normalized per section, and hand-written sections survive. */
class PlanDumpSpec extends AnyFunSuite {
  test("stable renumbers Spark ids per section and tokenizes per-run names") {
    val a = "## q\n\n```\nProject [k#812L, v#90, k#812L]\n" +
      "Arguments: [plan_id=1605] [plan_id=1609] [plan_id=1605]\n" +
      "MapPartitionsRDD[110] at x, MapPartitionsRDD[102], MapPartitionsRDD[110]\n" +
      "bloom_might_contain(xxhash64(k#812L, 42), [B@dbdc62)\n" +
      "transform(_toks#3, lambdafunction(lambda x_16#5 + 1, lambda x_16#5, false))\n" +
      "Location: [file:/tmp/plandump_cdc6875115/t/_change_data/ac71eb97-c16/" +
      "part-00000-dd67d084-1210-4a1a-9348-e2fa754b3a73-c000.snappy.parquet]\n```\n"
    val want = "## q\n\n```\nProject [k#0L, v#1, k#0L]\n" +
      "Arguments: [plan_id=0] [plan_id=1] [plan_id=0]\n" +
      "MapPartitionsRDD[0] at x, MapPartitionsRDD[1], MapPartitionsRDD[0]\n" +
      "bloom_might_contain(xxhash64(k#0L, 42), [B@<hash>)\n" +
      "transform(_toks#2, lambdafunction(lambda x_0#3 + 1, lambda x_0#3, false))\n" +
      "Location: [file:/tmp/plandump_cdc/t/_change_data/<id>/" +
      "part-00000-<uuid>-c000.snappy.parquet]\n```\n"
    assert(PlanDump.stable(a) == want)
    // the same plan under other JVM-allocated ids dumps identically
    assert(PlanDump.stable(a.replace("#812", "#40").replace("#90", "#41")
      .replace("=1605", "=7").replace("dbdc62", "1f00aa")) == want)
    assert(PlanDump.stable(want) == want)
  }

  test("sections split a dump into headed sections that reassemble verbatim") {
    val doc = "# title\n\n## a (x)\n\n```\nplan\n```\n\n## r17 — notes\n\nprose\n" +
      "```sql\nSELECT 1\n```\n\n## last\n\ntext\n"
    val s = PlanDump.sections(doc)
    assert(s.map(_._1) == Seq("a (x)", "r17 — notes", "last"))
    assert("# title\n\n" + s.map(_._2).mkString("\n") == doc)
  }
}
