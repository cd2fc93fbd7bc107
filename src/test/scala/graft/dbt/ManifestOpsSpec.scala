package graft.dbt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class ManifestOpsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "src/test/resources/dbt"
  private def manifest = DbtArtifacts.readManifest(spark, s"$dir/manifest.json")

  test("lineage edges reproduce the depends_on fan-out") {
    val edges = ManifestOps.lineageEdges(manifest).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(edges == Set(
      ("model.proj.orders", "macros", "macro.proj.m1"),
      ("model.proj.orders", "nodes", "source.proj.raw.orders"),
      ("model.proj.orders", "nodes", "model.proj.stg"),
      ("test.proj.not_null", "nodes", "model.proj.orders")
    ))
  }

  test("transitive closure reaches 2-hop dependencies and terminates") {
    val closure = ManifestOps
      .transitiveClosure(ManifestOps.lineageEdges(manifest))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // test → orders (1 hop) and test → {m1, raw.orders, stg} (2 hops)
    assert(closure.contains(("test.proj.not_null", "model.proj.orders", 1)))
    assert(closure.contains(("test.proj.not_null", "macro.proj.m1", 2)))
    assert(closure.contains(("test.proj.not_null", "model.proj.stg", 2)))
    assert(closure.contains(("test.proj.not_null", "source.proj.raw.orders", 2)))
    // 4 direct edges + 3 derived = 7 paths, no hop-3 artifacts
    assert(closure.size == 7)
    assert(closure.forall(_._3 <= 2))
  }

  test("impact analysis: downstream of changed nodes in the AFTER graph") {
    val imp = ManifestOps
      .impacted(manifest, DbtArtifacts.readManifest(spark, s"$dir/manifest_v2.json"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // only model.proj.orders changed; in v2, model.proj.summary depends
    // on it (1 hop) — the removed test node must NOT appear
    assert(imp == Set(("model.proj.orders", "model.proj.summary", 1)))
  }

  test("manifest diff classifies added/removed/changed/unchanged") {
    val d = ManifestOps
      .diff(manifest, DbtArtifacts.readManifest(spark, s"$dir/manifest_v2.json"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(d("model.proj.orders") == "changed") // sha abc123→def456, mat table→incremental
    assert(d("model.proj.summary") == "added")
    assert(d("test.proj.not_null") == "removed")
    assert(d("source.proj.raw.orders") == "unchanged") // NULL sha on both sides
    assert(d("macro.proj.m1") == "unchanged") // same macro_sql → same sha2
  }

  private def fields(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq

  test("graph operators keep their output schemas: names, types and nullability") {
    val s = spark
    import s.implicits._
    val edges = ManifestOps.lineageEdges(manifest)
    assert(
      fields(ManifestOps.transitiveClosure(edges)) ==
        Seq(("src", StringType, true), ("dst", StringType, true), ("hops", IntegerType, false))
    )
    assert(
      fields(ManifestOps.reverseReachable(edges, Seq("model.proj.orders").toDF("changed_id"))) ==
        Seq(("src", StringType, true), ("changed_id", StringType, true), ("hops", IntegerType, false))
    )
    assert(
      fields(ManifestOps.impacted(manifest, DbtArtifacts.readManifest(spark, s"$dir/manifest_v2.json"))) ==
        Seq(("changed_id", StringType, true), ("impacted_id", StringType, true), ("hops", IntegerType, false))
    )
  }

  test("graph searches run as many Spark jobs on a 9-hop chain as on a 2-hop chain") {
    val s = spark
    import s.implicits._
    // n edges c0 -> c1 -> ... -> cn: c0 reaches cn in n hops
    def jobs(n: Int): (Int, Int) = {
      val edges = (0 until n).map(i => (s"c$i", s"c${i + 1}")).toDF("src", "dst")
      var reverseHops, closureHops = 0
      val reverse = jobsOf {
        reverseHops = ManifestOps.reverseReachable(edges, Seq(s"c$n").toDF("changed_id")).collect().map(_.getInt(2)).max
      }
      val closure = jobsOf {
        closureHops = ManifestOps.transitiveClosure(edges).collect().map(_.getInt(2)).max
      }
      assert(reverseHops == n && closureHops == n)
      (reverse, closure)
    }
    val (reverse2, closure2) = jobs(2)
    val (reverse9, closure9) = jobs(9)
    assert(reverse2 == reverse9, s"reverseReachable: $reverse2 jobs for 2 hops, $reverse9 for 9")
    assert(closure2 == closure9, s"transitiveClosure: $closure2 jobs for 2 hops, $closure9 for 9")
  }
}
