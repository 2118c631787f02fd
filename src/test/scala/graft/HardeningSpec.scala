package graft

import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.pipeline.BatchPipeline
import graft.taxi.TaxiShape
import graft.validate.Expectations
import graft.warehouse.Warehouse

class HardeningSpec extends SparkSpec {
  import spark.implicits._

  test("swapInPlace aborts without data loss when a rename silently fails") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_swap").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val real = new Path(root).getFileSystem(conf)

    def mkdirs(paths: String*): Unit = paths.foreach { p =>
      real.mkdirs(new Path(p))
      real.create(new Path(p, "part-0")).close()
    }

    class FlakyFs(failSrcName: String) extends FilterFileSystem(real) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName == failSrcName) false else super.rename(src, dst)
    }

    // failure moving current aside: current data must be untouched
    val destA = s"$root/a"; val tmpA = s"$root/a__tmp"; val oldA = s"$root/a__old"
    mkdirs(destA, tmpA)
    val e1 = intercept[java.io.IOException] {
      graft.sources.Sinks.swapInPlace(new FlakyFs("a"),
        new Path(tmpA), new Path(destA), new Path(oldA))
    }
    assert(e1.getMessage.contains("untouched"))
    assert(real.exists(new Path(destA, "part-0")) && real.exists(new Path(tmpA, "part-0")))

    // failure moving the new copy in: previous copy must survive in __old
    val destB = s"$root/b"; val tmpB = s"$root/b__tmp"; val oldB = s"$root/b__old"
    mkdirs(destB, tmpB)
    val e2 = intercept[java.io.IOException] {
      graft.sources.Sinks.swapInPlace(new FlakyFs("b__tmp"),
        new Path(tmpB), new Path(destB), new Path(oldB))
    }
    assert(e2.getMessage.contains("preserved"))
    assert(real.exists(new Path(oldB, "part-0")) && real.exists(new Path(tmpB, "part-0")))

    // clean swap: dest replaced, tmp and old gone
    val destC = s"$root/c"; val tmpC = s"$root/c__tmp"; val oldC = s"$root/c__old"
    mkdirs(destC, tmpC)
    graft.sources.Sinks.swapInPlace(real, new Path(tmpC), new Path(destC), new Path(oldC))
    assert(real.exists(new Path(destC, "part-0")))
    assert(!real.exists(new Path(tmpC)) && !real.exists(new Path(oldC)))

    // crashed-prior-swap state (__old exists, dest missing): a retry
    // must refuse instead of deleting the only previous copy
    val destD = s"$root/d"; val tmpD = s"$root/d__tmp"; val oldD = s"$root/d__old"
    mkdirs(tmpD, oldD) // no dest: simulates crash between dest->old and src->dest
    val e3 = intercept[java.io.IOException] {
      graft.sources.Sinks.swapInPlace(real, new Path(tmpD), new Path(destD), new Path(oldD))
    }
    assert(e3.getMessage.contains("crashed"))
    assert(real.exists(new Path(oldD, "part-0")) && real.exists(new Path(tmpD, "part-0")))
  }

  test("Metrics.measure reports shuffle/scan volumes for real plans") {
    import graft.core.{Metrics, Tables}
    val dir = "/root/testdata/sf0.001"
    // aggregation: must show a shuffle and the parquet scan
    val agg = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val m1 = Metrics.measure(agg)
    assert(m1.rowsOut == 3)
    assert(m1.shuffleRecordsWritten > 0 && m1.shuffleBytesWritten > 0)
    assert(m1.filesRead > 0 && m1.scanRowsRead > 0)
    assert(!m1.spilled) // sf0.001 must never spill
    // map-only projection: zero shuffle (raw read — Tables.lineitem
    // carries the parallelism-bootstrap repartition by design)
    val proj = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val m2 = Metrics.measure(proj)
    assert(m2.shuffleRecordsWritten == 0 && m2.rowsOut == m2.scanRowsRead)
  }

  test("Metrics.metered counts jobs run while its by-name body is evaluated") {
    import graft.core.Metrics
    // the count runs inside the body, before the returned frame exists:
    // a by-value argument would have run it before the meter attached
    val (df, totals) = Metrics.metered { spark.range(10).count(); spark.range(5).toDF() }
    assert(totals.jobs >= 1, totals.toString)
    assert(totals.stages >= 1 && totals.tasks >= 1, totals.toString)
    assert(df.count() == 5)
  }

  test("Checkpoints.resetBlocks frees and returns leftover persisted RDDs") {
    import graft.core.Checkpoints
    val left = spark.sparkContext.parallelize(1 to 100, 2).persist()
    assert(left.count() == 100)
    val freed = Checkpoints.resetBlocks(spark)
    assert(freed.map(_.id).contains(left.id), freed.toString)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("annotate/partitionValid split rows by violation lists in suite order") {
    val df = Seq(
      (1L, "click", 10.0),   // valid
      (2L, "error", 10.0),   // in_set violation
      (3L, "click", 99.0),   // between violation
      (4L, "error", -1.0)    // both
    ).toDF("event_id", "event_type", "value")
    val suite = Seq(
      Expectations.InSet("event_type", Seq("click", "view")),
      Expectations.Between("value", 0, 50))
    val annotated = Expectations.annotate(df, suite).orderBy("event_id").collect()
    assert(annotated.map(_.getAs[scala.collection.Seq[String]]("violations").toList).toSeq == Seq(
      List(), List("in_set_event_type"), List("between_value"),
      List("in_set_event_type", "between_value")))
    val (good, bad) = Expectations.partitionValid(df, suite)
    assert(good.as[(Long, String, Double)].collect().map(_._1).toSeq == Seq(1L))
    assert(bad.count() == 3)
    assert(good.columns.toSeq == df.columns.toSeq) // quarantine cols stripped
  }

  test("star schema referential integrity: every fact key resolves to a dim") {
    val staging = TaxiShape.staging(spark, "/root/testdata/sf0.001")
    val fact = Warehouse.factTrip(staging)
    val dimV = Warehouse.dimVendor(staging).select("vendor_key")
    val dimR = Warehouse.dimRateCode(staging).select("rate_code_key")
    val dimP = Warehouse.dimPayment(staging).select("payment_type_key")
    assert(fact.join(dimV, Seq("vendor_key"), "left_anti").count() == 0)
    assert(fact.join(dimR, Seq("rate_code_key"), "left_anti").count() == 0)
    assert(fact.join(dimP, Seq("payment_type_key"), "left_anti").count() == 0)
    // surrogate keys are 32-hex md5s
    assert(fact.select("trip_id").as[String].head().matches("[0-9a-f]{32}"))
  }

  test("IVF recall vs brute force stays high on the real embedding table") {
    import graft.core.Tables
    import graft.similarity.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(e.select("vec_id", "embedding"), q, 5))
    val ivf = pairs(Similarity.ivfTopK(e.select("vec_id", "embedding"), q,
      dim = 64, k = 5, nCells = 16, nProbe = 4))
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@5 dropped to $recall")
    // Angular LSH is the wrong tool for THIS corpus (max pairwise
    // cosine ~0.5 — no true near neighbors, so bucket collisions are
    // ~random); its mechanism is covered on near-dup fixtures in
    // TextDedupSpec. IVF probes cells by distance and degrades
    // gracefully instead.
  }

  test("GraftSession applies engine config and registers float_dot") {
    // getOrCreate on an existing session APPLIES the builder's runtime
    // configs to it — this test would otherwise silently reconfigure
    // the shared TestSession (shuffle.partitions 4 → 2) for every
    // suite that runs after it. Snapshot and diff-restore.
    val before = spark.conf.getAll
    val s = GraftSession.builder("graft-config-test", cores = 2).getOrCreate()
    try {
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      // extensions took effect only if this builder created the session
      // (a shared test JVM may reuse TestSession); assert on a fresh one
      import org.apache.spark.sql.SparkSession
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val fresh = GraftSession.builder("graft-config-fresh", cores = 2).getOrCreate()
      import fresh.implicits._
      Seq((Array(1.0f, 2.0f), Array(2.0f, 0.5f))).toDF("a", "b")
        .createOrReplaceTempView("hs_v")
      assert(fresh.sql("SELECT float_dot(a, b) AS d FROM hs_v").head().getDouble(0) == 3.0)
    } finally {
      val after = spark.conf.getAll
      // restore over the UNION of keys: a key present before but
      // REMOVED during the test would be invisible to after.keys, and
      // restore failures should be heard, not swallowed
      (before.keySet ++ after.keySet).foreach { k =>
        (before.get(k), after.get(k)) match {
          case (Some(v), cur) if !cur.contains(v) =>
            try spark.conf.set(k, v)
            catch { case e: Exception =>
              System.err.println(s"[HardeningSpec] could not restore conf $k=$v: $e") }
          case (None, Some(_)) =>
            try spark.conf.unset(k)
            catch { case e: Exception =>
              System.err.println(s"[HardeningSpec] could not unset conf $k: $e") }
          case _ => ()
        }
      }
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  test("hash sampling is deterministic; split is disjoint and covering") {
    import graft.operators.Sampling
    val df = spark.range(0, 10000).select(col("id").as("k"))
    val s1 = Sampling.hashSample(df, "k", 20, "s").as[Long].collect().toSet
    val s2 = Sampling.hashSample(df, "k", 20, "s").as[Long].collect().toSet
    assert(s1 == s2) // deterministic
    assert(math.abs(s1.size - 2000) < 200) // ~20%
    val other = Sampling.hashSample(df, "k", 20, "other-salt").as[Long].collect().toSet
    assert(other != s1) // salt changes the sample
    val (tr, va, te) = Sampling.split(df, "k", 80, 10, "s")
    val (a, b, c) = (tr.as[Long].collect().toSet, va.as[Long].collect().toSet,
      te.as[Long].collect().toSet)
    assert((a & b).isEmpty && (a & c).isEmpty && (b & c).isEmpty)
    assert(a.size + b.size + c.size == 10000)
    assert(a.subsetOf((0L until 10000L).toSet))
  }

  test("Engine.attach exposes the star schema to plain spark.sql") {
    Engine.attach(spark, "/root/testdata/sf0.001")
    val out = spark.sql(
      """SELECT dv.vendor_name, count(*) AS n, sum(f.total_amount) AS amt
        |FROM fact_trip f JOIN dim_vendor dv ON f.vendor_key = dv.vendor_key
        |GROUP BY dv.vendor_name ORDER BY n DESC""".stripMargin).collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) > 0))
    assert(spark.sql("SELECT count(*) FROM staging_nyc_taxi").head().getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM dim_service_type").head().getLong(0) == 2)
  }

  test("BatchPipeline.clean skips zone enrichment when coordinates pre-exist (pre-2017 shape)") {
    val raw = Seq((1, java.sql.Timestamp.valueOf("2016-06-01 10:00:00"),
      java.sql.Timestamp.valueOf("2016-06-01 10:10:00"),
      40.7, -73.9, 40.8, -73.8, 12.5))
      .toDF("VendorID", "pickup_datetime", "dropoff_datetime",
        "pickup_latitude", "pickup_longitude",
        "dropoff_latitude", "dropoff_longitude", "fare_amount")
    val lookup = Seq((10, "B", "z", "s", 1.0, 2.0))
      .toDF("LocationID", "Borough", "zone", "service_zone", "latitude", "longitude")
    val cleaned = BatchPipeline.clean(raw, Some(lookup))
    assert(cleaned.count() == 1)
    // original coordinates survive untouched; no lookup columns leak in
    assert(cleaned.head().getAs[Double]("pickup_latitude") == 40.7)
    assert(!cleaned.columns.contains("locationid") && !cleaned.columns.contains("LocationID"))
  }
}
