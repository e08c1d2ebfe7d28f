package graft

import graft.store.{Artifact, StoreWrite, TombstoneSet, TombstonedIdsException}
import graft.store.Artifact.{Fresh, Table}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The persisted-artifact core: the fresh-rows append refuses rows
  * that read the artifact's own tables before it writes anything, and
  * the tombstone set keeps ids as written. */
class ArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def leaseDest(name: String) =
    spark.conf.get("spark.sql.warehouse.dir") + s"/graft-spec-$name"

  test("appendFresh refuses rows whose plan reads one of its tables; nothing is written") {
    val a = Table("graft_spec_art_a", Seq("id"))
    val b = Table("graft_spec_art_b", Seq("id"))
    val art = new Artifact(spark, leaseDest("art"), Seq(a, b), nBuckets = 2)
    Seq(a, b).foreach(t => StoreWrite.dropTable(spark, t.name))
    art.write(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), a, SaveMode.ErrorIfExists)
    art.write(Seq((1L, "p")).toDF("id", "v"), b, SaveMode.ErrorIfExists)
    def contents() = Seq(a, b).map(t => art.read(t).as[(Long, String)].collect().toSet)
    val before = contents()
    val delta = Seq((3L, "z")).toDF("id", "v")
    // the second append's rows read table a (cached, not truncated):
    // the first append must not land either
    val readsA = Materialize.reuse(delta.join(art.read(a).select("id"), Seq("id"), "left_anti"))
    val e = intercept[IllegalStateException](art.withLease("spec-commit")(
      art.appendFresh(idempotent = false)(Fresh(delta, b), Fresh(readsA, b))))
    assert(e.getMessage.contains("graft_spec_art_a") && e.getMessage.contains("nothing was written"))
    assert(contents() == before)
    // the same rows truncated carry no lineage and append; idempotent
    // appends land only the ids the part lacks
    art.withLease("spec-commit")(art.appendFresh(idempotent = true)(
      Fresh(Materialize.truncate(readsA.unionByName(Seq((1L, "q")).toDF("id", "v"))), b)))
    assert(art.read(b).as[(Long, String)].collect().toSet == Set((1L, "p"), (3L, "z")))
    Materialize.releaseAll()
  }

  test("snapshot commit with string ids (distributed CC path) appends lineage-free rows") {
    // string ids take connectedComponents' distributed path, whose
    // output still reads the sigs/shingles tables through its cached
    // edge set; only truncated survivors may append
    val store = Seq(("s1", "the quick brown fox jumps over the lazy dog again today"),
      ("s2", "completely unrelated store content about streams and sinks")).toDF("doc_id", "text")
    val delta = Seq(("t1", "the quick brown fox jumps over the lazy dog again today!"),
      ("t2", "fresh delta content that matches nothing in the store")).toDF("doc_id", "text")
    val snap = new graft.dedup.DedupSnapshot(spark, "graft_spec_art_str", nBuckets = 2, bucketCap = 0)
    snap.writeCorpus(store, "doc_id", "text")
    val surv = snap.ingestDelta(delta, "doc_id", "text", commit = true)
    assert(surv.as[String].collect().toSeq == Seq("t2"))
    assert(snap.corpus().select("doc_id").as[String].collect().sorted.toSeq == Seq("s1", "s2", "t2"))
    Materialize.releaseAll()
  }

  test("tombstone set: ids as written, one anti-join, frozen ids throw unless skipped") {
    val t = Table("graft_spec_art_tombs", Seq("id"))
    val art = new Artifact(spark, leaseDest("tombs"), Seq(t), nBuckets = 2)
    StoreWrite.dropTable(spark, t.name)
    val tombs = new TombstoneSet(spark, "spec artifact", "a rebuild")(
      Option.when(spark.catalog.tableExists(t.name))(art.read(t)), art.write(_, t, SaveMode.Append))
    val docs = Seq("a", "b", "c").toDF("doc")
    // no set: minus is the identity, the check runs nothing
    assert(tombs.minus(docs, "doc") eq docs)
    assert(tombs.frozen(docs, "doc") == 0L && tombs.ids().isEmpty)
    tombs.add(Seq("b", "b").toDF("doc"), "doc")
    tombs.add(Seq("c").toDF("doc"), "doc")
    assert(tombs.ids().as[String].collect().sorted.toSeq == Seq("b", "c"))
    assert(tombs.minus(docs, "doc").as[String].collect().toSeq == Seq("a"))
    val e = intercept[TombstonedIdsException](tombs.frozen(docs, "doc"))
    assert(e.n == 2L && e.getMessage.contains("frozen until a rebuild"))
    assert(e.isInstanceOf[IllegalArgumentException])
    assert(tombs.frozen(docs, "doc", skip = true) == 2L)
    StoreWrite.dropTable(spark, t.name)
  }
}
