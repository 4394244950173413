package graft

import graft.catalog.{FaultInjection, GraftStorage, KuduLikeCatalog,
  ObjectStoreStorage, TableDef}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The rename-less (S3-class) storage backend's proof (round-15 verdict
  * item 1):
  *
  *  - [[ObjectStoreCatalogSpec]] / [[ObjectStoreCrashSpec]] re-run the
  *    ENTIRE CatalogSpec and CrashSpec suites with the catalog bound to
  *    [[ObjectStoreStorage]] — every DDL verb, commit protocol, and
  *    cut-point kill runs with `supportsAtomicRename = false`, where
  *    `moveAtomic` THROWS: a green run is machine-checked evidence that no
  *    commit path still reaches for a rename.
  *  - [[ObjectStoreProtocolSpec]] kills the rename-less protocol's OWN
  *    steps (the copy-then-marker layer publish, the manifest-last table
  *    publish, the journaled table rename) and proves each frontier is
  *    complete pre-op or complete post-op state — never torn.
  */
class ObjectStoreCatalogSpec extends CatalogSpec {
  override protected def specStorage: GraftStorage = new ObjectStoreStorage()
}

class ObjectStoreCrashSpec extends CrashSpec {
  override protected def specStorage: GraftStorage = new ObjectStoreStorage()
}

class ObjectStoreProtocolSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def seeded(): (KuduLikeCatalog, String) = {
    val root = tmpDir("graft_ostore_")
    val cat = new KuduLikeCatalog(spark, root, new ObjectStoreStorage())
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", spark.createDataFrame(
      (0L until 20L).map(i => Row(i, s"v$i")).asJava, schema))
    (cat, root)
  }

  private def content(cat: KuduLikeCatalog, t: String): Set[(Long, String)] =
    cat.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def up(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)

  private def crashAt[T](point: String)(body: => T): Unit = {
    FaultInjection.arm(_ == point)
    try intercept[FaultInjection.InjectedCrash](body)
    finally FaultInjection.disarm()
  }

  test("moveAtomic throws loudly — no catalog path may reach a rename") {
    val st = new ObjectStoreStorage()
    val dir = java.nio.file.Paths.get(tmpDir("graft_osmv_"))
    st.writeString(dir.resolve("a"), "x")
    val e = intercept[UnsupportedOperationException](
      st.moveAtomic(dir.resolve("a"), dir.resolve("b")))
    assert(e.getMessage.contains("manifest pointer"))
  }

  test("a markerless digits layer dir is invisible and its sequence is " +
    "safely reused by the next writer") {
    val (cat, root) = seeded()
    val before = content(cat, "t")
    // a crashed publish's litter: copied files, no _graft_committed marker
    val fake = java.nio.file.Paths.get(root, "t", "deltas", "7")
    java.nio.file.Files.createDirectories(fake)
    java.nio.file.Files.writeString(fake.resolve("part-junk.parquet"), "torn")
    assert(content(cat, "t") === before, "markerless layer must stay invisible")
    assert(cat.upsert("t", up(1L -> "patched")) === 1,
      "the burned-looking dir must not wedge the next writer")
    assert(content(cat, "t") === before - (1L -> "v1") + (1L -> "patched"))
  }

  test("compact folds only committed layers: a markerless crashed upsert " +
    "stays invisible before and after the fold") {
    val (cat, _) = seeded()
    val before = content(cat, "t")
    crashAt("delta.copied")(cat.upsert("t", up(2L -> "patched")))
    assert(content(cat, "t") === before)
    cat.compact("t")
    assert(content(cat, "t") === before,
      "compact must read with the catalog's storage, whose visibility rule " +
        "needs the commit marker")
  }

  test("layer publish: crash between copy and marker PUT leaves the layer " +
    "invisible; the retry converges") {
    val (cat, _) = seeded()
    val before = content(cat, "t")
    crashAt("delta.copied")(cat.upsert("t", up(2L -> "patched")))
    assert(content(cat, "t") === before,
      "a copied-but-unmarked layer must not be readable")
    assert(cat.upsert("t", up(2L -> "patched")) === 1)
    assert(content(cat, "t") === before - (2L -> "v2") + (2L -> "patched"))
  }

  test("clone publish: crash between tree copy and manifest PUT leaves no " +
    "table; the retry converges over the litter") {
    val (cat, _) = seeded()
    val before = content(cat, "t")
    crashAt("publish.copied")(cat.cloneTable("t", "t2"))
    assert(!cat.exists("t2"), "manifest-less clone must stay invisible")
    cat.cloneTable("t", "t2") // retries over the partial copy
    assert(content(cat, "t2") === before)
    assert(content(cat, "t") === before)
  }

  test("table rename: crash before the destination manifest leaves the old " +
    "table intact; a retry completes the rename") {
    val (cat, _) = seeded()
    val before = content(cat, "t")
    for (point <- Seq("tblrename.marked", "publish.copied")) {
      crashAt(point)(cat.renameTable("t", "t_new"))
      assert(cat.exists("t") && !cat.exists("t_new"),
        s"after a crash at $point the rename must not have happened")
      assert(content(cat, "t") === before)
    }
    cat.renameTable("t", "t_new")
    assert(!cat.exists("t") && cat.exists("t_new"))
    assert(content(cat, "t_new") === before)
  }

  test("table rename: crash after the destination manifest rolls FORWARD " +
    "on retry (journaled); source fully dropped") {
    for (point <- Seq("tblrename.published", "tblrename.srcdropped")) {
      val (cat, root) = seeded()
      val before = content(cat, "t")
      crashAt(point)(cat.renameTable("t", "t_new"))
      assert(cat.exists("t_new"), s"$point: destination must be visible")
      cat.renameTable("t", "t_new") // resume: rolls the crashed rename forward
      assert(!cat.exists("t") && cat.exists("t_new"))
      assert(content(cat, "t_new") === before)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")),
        s"$point: the source tree must be fully dropped after resume")
      assert(cat.upsert("t_new", up(3L -> "post")) === 1,
        "the renamed table must be writable (journal cleared)")
    }
  }

  test("table rename recovery never eats a RE-CREATED source table") {
    val (cat, _) = seeded()
    crashAt("tblrename.published")(cat.renameTable("t", "t_new"))
    // the original source is still manifest-visible (crash hit before
    // srcdropped); now model a SECOND life of the name: drop + re-create
    cat.dropTable("t")
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", up(100L -> "second-life"))
    val e = intercept[graft.catalog.CatalogException](
      cat.renameTable("t", "t_new"))
    assert(e.getMessage.contains("already exists"))
    assert(content(cat, "t") === Set(100L -> "second-life"),
      "the re-created table must survive the failed rename")
  }

  test("manifest swap is one atomic PUT: overwrite + time travel still " +
    "agree through the object store") {
    val (cat, _) = seeded()
    cat.upsert("t", up(5L -> "patched"))
    val v = cat.currentVersion("t")
    cat.upsert("t", up(6L -> "patched6"))
    val asOf = cat.tableAsOf("t", v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOf.contains(5L -> "patched") && asOf.contains(6L -> "v6"))
  }

  private def litterKinds(cat: KuduLikeCatalog): Set[(String, String)] =
    cat.showLitter().collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("SHOW LITTER / VACUUM LITTER: every crash point's residue is " +
    "enumerated, classified, and reclaimed (round-16 item 6)") {
    // clone killed between tree copy and manifest PUT: a staged tree at
    // the root AND a manifest-less destination
    val (cat, _) = seeded()
    val before = content(cat, "t")
    assert(litterKinds(cat) === Set.empty, "a healthy root carries no litter")
    crashAt("publish.copied")(cat.cloneTable("t", "t2"))
    assert(litterKinds(cat) === Set("" -> "staged_clone", "t2" -> "orphan_publish"))
    // retention window: a fresh stage is NOT reclaimed (it may be a live
    // cloner's) unless the operator passes zero retention
    cat.vacuumLitter(olderThanMs = Long.MaxValue)
    assert(litterKinds(cat).contains("" -> "staged_clone"))
    assert(cat.vacuumLitter(olderThanMs = 0L).nonEmpty)
    assert(litterKinds(cat) === Set.empty)
    cat.cloneTable("t", "t2") // the cleared root clones cleanly
    assert(content(cat, "t2") === before)

    // rename killed before the destination manifest: journaled dst litter
    crashAt("tblrename.marked")(cat.renameTable("t2", "t3"))
    assert(litterKinds(cat) === Set("t3" -> "orphan_publish"))
    assert(cat.vacuumLitter(olderThanMs = 0L).nonEmpty)
    assert(litterKinds(cat) === Set.empty)
    assert(cat.exists("t2") && !cat.exists("t3"))

    // rename killed after the source manifest drop: a committed dst with
    // its roll-forward journal, plus the manifest-less source tree
    crashAt("tblrename.srcdropped")(cat.renameTable("t2", "t3"))
    assert(litterKinds(cat) ===
      Set("t2" -> "orphan_publish", "t3" -> "orphan_rename_journal"))
    assert(cat.vacuumLitter(olderThanMs = 0L).nonEmpty)
    assert(litterKinds(cat) === Set.empty)
    assert(cat.exists("t3") && !cat.exists("t2"))
    assert(content(cat, "t3") === before)
    assert(cat.upsert("t3", up(3L -> "post")) === 1,
      "the rolled-forward table stays writable (journal cleared)")

    // a markerless layer copy is REPORTED but left alone — the next
    // same-sequence publish reclaims it under the lock
    crashAt("delta.copied")(cat.upsert("t", up(2L -> "patched")))
    assert(litterKinds(cat) === Set("t" -> "uncommitted_layer"))
    cat.vacuumLitter(olderThanMs = 0L)
    assert(litterKinds(cat) === Set("t" -> "uncommitted_layer"),
      "vacuumLitter must not touch a possibly-in-flight layer copy")
    assert(cat.upsert("t", up(2L -> "patched")) === 1)
    assert(litterKinds(cat) === Set.empty,
      "the retry's publish reclaims the markerless copy")
  }

  test("createTable over a crashed rename's source litter starts EMPTY — " +
    "stale committed deltas never alias as the new table's data") {
    val (cat, _) = seeded()
    cat.upsert("t", up(7L -> "patched")) // a committed delta layer to leak
    crashAt("tblrename.srcdropped")(cat.renameTable("t", "t_new"))
    // the source dir now holds base + committed delta layers, no manifest;
    // the user re-creates the name instead of retrying the rename
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    assert(cat.table("t").count() === 0L,
      "the fresh manifest must not resurrect the crashed rename's layers")
    assert(cat.insert("t", up(1L -> "fresh")) === 1)
    assert(content(cat, "t") === Set(1L -> "fresh"))
    // the journaled rename destination is intact and reclaimable
    assert(litterKinds(cat).contains("t_new" -> "orphan_rename_journal"))
    // roll-forward now must NOT eat the re-created source: fingerprints
    // differ, so the journal is left for the operator (resume refuses)
    cat.vacuumLitter(olderThanMs = 0L)
    assert(content(cat, "t") === Set(1L -> "fresh"))
    assert(cat.exists("t_new"))
  }
}
