package graft

/** Proof of the warehouse-persistence contract: trained artifacts (NAR
  * joint, k-means centroids, isotonic staircase) are written once keyed
  * by (dataset fingerprint, schema version), and a SECOND session
  * serves every trained surface from the warehouse with NO trainer
  * invocation — reload identity, the way a real engine cold-starts
  * from its model store instead of retraining per session.
  */
class CheckpointSpec extends SparkSpec {

  private def run(s: org.apache.spark.sql.SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().map(_.toString).toSeq.sorted

  test("a second session serves all trained surfaces from the warehouse, trainer untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toString
    Checkpoint.rootOverride = Some(tmp)
    try {
      val surfaces = Seq("nar_est", "nar_check", "nar_inc_check",
        "ivf_kmeans_ann", "isotonic_calibration", "bpe_train", "model_store")
      // session 1: cold start — trains and persists
      val s1 = spark.newSession()
      val before = Checkpoint.builds.get
      val got1 = surfaces.map(q => q -> run(s1, q)).toMap
      val trained = Checkpoint.builds.get - before
      assert(trained >= 5, s"expected all five trainers to run, saw $trained builds")
      // session 2: fresh session state (empty Memo) — must serve from
      // the warehouse with ZERO additional trainer builds
      val s2 = spark.newSession()
      val got2 = surfaces.map(q => q -> run(s2, q)).toMap
      assert(Checkpoint.builds.get - before == trained,
        "second session re-ran a trainer instead of loading its checkpoint")
      // reload identity: both sessions answer identically
      for (q <- surfaces) assert(got1(q) == got2(q), s"reload drift on $q")
      // Stale-committed-artifact guard: the store key is schemaVersion
      // + a row-count fingerprint, so a training-table content edit
      // that preserves counts — or a trainer change without a
      // schemaVersion bump — would otherwise silently serve stale
      // COMMITTED parameters to every fresh checkout. Every artifact
      // this cold session just rebuilt from scratch must match the
      // committed store value-for-value wherever the committed store
      // carries the same (version, dataset-fingerprint, name) key.
      val rebuiltRoot = new java.io.File(tmp, Checkpoint.schemaVersion)
      val committedRoot = new java.io.File("models/graft_ckpt", Checkpoint.schemaVersion)
      var checked = 0
      for {
        ds <- Option(rebuiltRoot.listFiles()).getOrElse(Array.empty[java.io.File])
        if ds.isDirectory
        art <- Option(ds.listFiles()).getOrElse(Array.empty[java.io.File])
        if art.isDirectory
      } {
        val committed = new java.io.File(new java.io.File(committedRoot, ds.getName), art.getName)
        if (new java.io.File(committed, "_SUCCESS").exists()) {
          val a = spark.read.parquet(art.getPath).collect().map(_.toString).sorted.toSeq
          val b = spark.read.parquet(committed.getPath).collect().map(_.toString).sorted.toSeq
          assert(a == b,
            s"committed artifact ${ds.getName}/${art.getName} is stale vs a from-scratch rebuild")
          checked += 1
        }
      }
      info(s"diffed $checked rebuilt artifacts against the committed store")
      assert(checked >= 5, "rebuild-vs-committed diff found nothing to compare")
    } finally {
      Checkpoint.rootOverride = None
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the loaded cache retains neither sessions nor frames strongly (weak on both axes)") {
    // Scope: Checkpoint.loaded must never be what keeps a retired
    // session alive. (Spark itself pins any session that has EXECUTED
    // a query — measured: a bare newSession+read+count never collects
    // even with no graft code involved — so the probe session only
    // PLANS a load here; executing sessions are Spark's own
    // bounded-retention concern, not this cache's.)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-weak").toString
    Checkpoint.rootOverride = Some(tmp)
    try {
      import org.apache.spark.sql.functions._
      // build the artifact once via the long-lived outer session
      Checkpoint(spark, sf, "weakprobe")(42L)(spark.range(2).select(col("id")))
      var s: org.apache.spark.sql.SparkSession = spark.newSession()
      val sref = new java.lang.ref.WeakReference(s)
      // the probe session LOADS (plan construction only, no action)
      var df: org.apache.spark.sql.DataFrame =
        Checkpoint(s, sf, "weakprobe")(42L)(sys.error("must not rebuild"))
      val dref = new java.lang.ref.WeakReference(df)
      df = null; s = null
      org.apache.spark.sql.SparkSession.clearActiveSession()
      var tries = 0
      while ((sref.get != null || dref.get != null) && tries < 50) {
        System.gc(); Thread.sleep(50); tries += 1
      }
      assert(dref.get == null,
        "the cached frame is still strongly reachable — inner refs must be weak")
      assert(sref.get == null,
        "a retired session is still strongly reachable — the loaded cache must not pin it")
    } finally {
      Checkpoint.rootOverride = None
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the checkpoint key is data-dependent: a different fingerprint trains fresh") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-fp").toString
    Checkpoint.rootOverride = Some(tmp)
    try {
      import org.apache.spark.sql.functions._
      var built = 0
      def artifact(fp: Long) =
        Checkpoint(spark, sf, "probe")(fp) {
          built += 1
          spark.range(3).select(col("id"))
        }
      artifact(1L).count(); artifact(1L).count()
      assert(built == 1, "same fingerprint must serve the persisted artifact")
      artifact(2L).count()
      assert(built == 2, "a changed fingerprint must rebuild")
    } finally {
      Checkpoint.rootOverride = None
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("tableFingerprint keys the committed store and matches the per-table fold") {
    val dir = freshSfCopy("graft-ckpt-fold")
    try {
      val d = dir.getPath
      val tables = QueriesEstimators.modelEstsFpTables
      val (fp, scans) = scansUnder(d)(Checkpoint.tableFingerprint(spark, d, tables: _*))
      // the reference fold: one count() and one checksum aggregate per
      // table, folded in table order
      val m = Checkpoint.fingerprintMod
      val expected = tables.foldLeft(17L) { (acc, t) =>
        val df = Tables(spark, d, t)
        val c = df.selectExpr("coalesce(sum(cast(conv(substring(md5(" +
          Checkpoint.checksumInputSpark(t) + "),1,13),16,10) as bigint) % " +
          s"${Checkpoint.chkTermMod}),0) as c").head().getLong(0) % m
        (((acc * 1000003L + df.count()) % m) * 1000003L + c) % m
      }
      assert(fp == expected, "one-action fingerprint drifted from the per-table fold")
      assert(new java.io.File(s"models/graft_ckpt/${Checkpoint.schemaVersion}/sf0.001-$fp")
        .isDirectory, s"fingerprint $fp keys no committed sf0.001 store entry")
      assert(scans == Seq(tables.toSet),
        s"expected one SQL execution scanning all ${tables.size} tables, saw $scans")
      val (again, rescans) =
        scansUnder(d)(Checkpoint.tableFingerprint(spark, d, tables: _*))
      assert(rescans.isEmpty, s"a cached fingerprint ran SQL executions: $rescans")
      assert(again == fp, "a cached fingerprint changed value")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
