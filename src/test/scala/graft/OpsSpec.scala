package graft

import graft.operators.Ops
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generic-path edge cases for the operator library — the corpus queries
  * exercise the happy paths under the DuckDB oracle; these pin the
  * semantics the corpus doesn't reach.
  */
class OpsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("asofJoin: no preceding right row yields nulls; ties resolve by strictness") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (3L, 1L, "rX"))
      .toDF("k", "t", "v")
    val loose = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("v"))
      .orderBy("ev").collect()
    // e1 at t=10 matches the same-instant r10; e2 takes the latest (r15);
    // e3's key has no right rows at all -> null
    assert(loose.map(r => (r.getString(2), Option(r.getString(3)))).toSeq ==
      Seq(("e1", Some("r10")), ("e2", Some("r15")), ("e3", None)))
    val strict = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("v"), strict = true)
      .orderBy("ev").collect()
    // strict: e1 must NOT see the same-instant r10
    assert(strict.map(r => (r.getString(2), Option(r.getString(3)))).toSeq ==
      Seq(("e1", None), ("e2", Some("r15")), ("e3", None)))
  }

  test("asofJoin carries multiple value columns from the same matched row") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 20L, "e")).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, "a", 100L), (1L, 15L, "b", 200L))
      .toDF("k", "t", "v1", "v2")
    val out = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("v1", "v2")).head()
    // both values come from the SAME row (t=15), never mixed across rows
    assert(out.getString(3) == "b" && out.getLong(4) == 200L)
  }

  test("tableDiff: null values do not misclassify as insert/delete") {
    val s = spark
    import s.implicits._
    val old = Seq((1L, Some("x")), (2L, None: Option[String]), (3L, Some("z")))
      .toDF("key", "v")
    val neu = Seq((1L, None: Option[String]), (2L, None: Option[String]), (4L, Some("w")))
      .toDF("key", "v")
    val out = Ops.tableDiff(old, neu, Seq("key")).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    // key 1: x -> null is an UPDATE (row still present); key 2: null -> null
    // unchanged (dropped); key 3 deleted; key 4 inserted
    assert(out == Seq((1L, "update"), (3L, "delete"), (4L, "insert")))
  }

  test("sampleByHash is deterministic and partition-invariant") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(_.toLong).toDF("id")
    val a = Ops.sampleByHash(df, col("id"), "2000").collect().map(_.getLong(0)).sorted
    val b = Ops.sampleByHash(df.repartition(7), col("id"), "2000")
      .collect().map(_.getLong(0)).sorted
    assert(a.toSeq == b.toSeq && a.nonEmpty)
    // ~12.5% of 1000, generous bounds
    assert(a.length > 60 && a.length < 200)
  }

  test("saltedEquiJoin equals the plain join") {
    val s = spark
    import s.implicits._
    val fact = (1 to 500).map(i => (i.toLong % 3, i.toLong)).toDF("fk", "row")
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("dk", "label")
    val salted = Ops.saltedEquiJoin(fact, dim, col("fk") === col("dk"),
        saltOn = Seq(col("row")))
      .select("row", "label").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("row", "label").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("asofJoin: NULL keys and times never match, rows survive with null payload") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (Option(1L), Option(10L), "ok"),
      (Option.empty[Long], Option(10L), "nullkey"),
      (Option(1L), Option.empty[Long], "nulltime"))
      .toDF("k", "t", "ev")
    val right = Seq(
      (Option(1L), Option(5L), "r5"),
      (Option.empty[Long], Option(1L), "rNullK"), // must match nothing
      (Option(1L), Option.empty[Long], "rNullT")) // must match nothing
      .toDF("k", "t", "v")
    val out = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("v"))
      .orderBy("ev").collect()
    assert(out.map(r => (r.getString(2), Option(r.getString(3)))).toSeq ==
      Seq(("nullkey", None), ("nulltime", None), ("ok", Some("r5"))))
  }

  test("internal columns never collide with user columns of the old fixed names") {
    val s = spark
    import s.implicits._
    // a fact column literally named __fsalt used to be silently replaced
    val fact = (1 to 50).map(i => (i.toLong % 3, i.toLong, s"u$i")).toDF("fk", "row", "__fsalt")
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("dk", "label")
    val out = Ops.saltedEquiJoin(fact, dim, col("fk") === col("dk"), Seq(col("row")))
    assert(out.columns.count(_ == "__fsalt") == 1)
    assert(out.select("__fsalt").collect().map(_.getString(0)).forall(_.startsWith("u")))
    // asofJoin with user columns named like its old internals
    val left = Seq((1L, 10L, "x")).toDF("__k", "__t", "__l")
    val right = Seq((1L, 5L, "y")).toDF("k", "t", "__p")
    val asof = Ops.asofJoin(left, right, "__k", "k", "__t", "t", Seq("__p"))
    assert(asof.columns.toSeq == Seq("__k", "__t", "__l", "__p"))
    assert(asof.collect().map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSeq ==
      Seq((1L, "x", "y")))
  }

  test("tableDiff refuses inputs whose suffixed names would collide") {
    val s = spark
    import s.implicits._
    // key literally named "v_old" collides with value column v's suffixed
    // output name
    val a = Seq((1L, "x")).toDF("v_old", "v")
    intercept[IllegalArgumentException] {
      Ops.tableDiff(a, a, Seq("v_old"))
    }
  }

  test("saltedEquiJoinAdaptive equals the plain join on skewed data, at every threshold (r8)") {
    val s = spark
    import s.implicits._
    // one melting key (5000 rows), many singletons
    val fact = ((1 to 5000).map(i => (999L, i)) ++ (1 to 200).map(i => (i.toLong, i)))
      .toDF("k", "payload")
    val dim = ((1L to 200L) :+ 999L).map(k => (k, s"dim-$k")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k", "payload", "name").orderBy("k", "payload").collect()
    for (threshold <- Seq(1L, 100L, 1000000L)) { // all-hot, just-the-hot-key, none-hot
      val salted = Ops.saltedEquiJoinAdaptive(fact, dim, col("k"), col("dk"),
          saltOn = Seq(col("k"), col("payload")), hotThreshold = threshold)
        .select("k", "payload", "name").orderBy("k", "payload").collect()
      assert(salted.toSeq == plain.toSeq, s"threshold=$threshold")
    }
    assert(plain.length == 5200)
  }

  test("connectedComponents: chains collapse to the min id, components stay separate") {
    val s = spark
    import s.implicits._
    // one 6-vertex path (diameter 5), one triangle, one pair — arbitrary
    // column names, edges in mixed direction order
    val edges = Seq(
      (1L, 0L), (1L, 2L), (3L, 2L), (3L, 4L), (5L, 4L), // path 0-1-2-3-4-5
      (10L, 11L), (11L, 12L), (12L, 10L),               // triangle
      (20L, 21L))                                       // pair
      .toDF("a", "b")
    val out = Ops.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> t).toMap
    (0L to 5L).foreach(v => assert(byId(v)._2 == 0L, s"vertex $v"))
    (10L to 12L).foreach(v => assert(byId(v)._2 == 10L, s"vertex $v"))
    assert(byId(20L)._2 == 20L && byId(21L)._2 == 20L)
    assert(out.count(_._3) == 3) // exactly one representative per component
    assert(out.length == 11)
  }

  test("connectedComponents: reliable-checkpoint mode matches localCheckpoint mode") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      (1L, 0L), (1L, 2L), (3L, 2L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val reliable = Ops.connectedComponents(edges, checkpointDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val local = Ops.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(reliable == local)
    // reliable mode actually wrote superstep state into the checkpoint dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .anyMatch(p => java.nio.file.Files.isRegularFile(p))
    assert(wrote, "checkpoint dir stayed empty — reliable mode not exercised")
  }

  test("connectedComponents: reliable checkpoints survive loss of every cached block (r8)") {
    val s = spark
    import s.implicits._
    val edges = ((0L until 6L).map(i => (i, i + 1)) ++ Seq((40L, 41L))).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt2").toString
    val out = Ops.connectedComponents(edges, checkpointDir = Some(dir))
    // Simulate the 100 TB failure mode the reliable path exists for: every
    // executor-cached block is gone (executor loss). localCheckpoint data
    // lives ONLY in those blocks; reliable checkpoint() re-reads its files,
    // so collecting after a full unpersist must still produce the labels.
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L to 6L).forall(v => got.contains((v, 0L))))
    assert(got.contains((40L, 40L)) && got.contains((41L, 40L)))
  }

  test("q_dedup_cluster threads spark.graft.ccCheckpointDir through to reliable mode (r8)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-conf").toString
    val plain = SparkEntry.queries("q_dedup_cluster")(s, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    s.conf.set("spark.graft.ccCheckpointDir", dir)
    try {
      val reliable = SparkEntry.queries("q_dedup_cluster")(s, "/root/testdata/sf0.001")
        .collect().map(_.toString).toSeq
      assert(reliable == plain)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => java.nio.file.Files.isRegularFile(p))
      assert(wrote, "conf did not reach Ops.connectedComponents")
    } finally s.conf.unset("spark.graft.ccCheckpointDir")
  }

  test("checkpoint-dir callers put back the context's exact prior checkpoint dir") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    def dir() = java.nio.file.Files.createTempDirectory("graft-ckpt-restore").toString
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val before = sc.getCheckpointDir
    Ops.connectedComponents(edges, checkpointDir = Some(dir())).collect()
    assert(sc.getCheckpointDir == before, "connectedComponents")
    Ops.bfs(edges, Seq(1L).toDF("n"), maxHops = 2, checkpointDir = Some(dir())).collect()
    assert(sc.getCheckpointDir == before, "bfs")
    s.conf.set("spark.graft.kmeansCheckpointDir", dir())
    val em = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    try graft.operators.KMeans.assign(em, "vec_id", "embedding", k = 2, iters = 1).collect()
    finally s.conf.unset("spark.graft.kmeansCheckpointDir")
    assert(sc.getCheckpointDir == before, "KMeans.assign")
  }

  test("connectedComponents: throws instead of returning unconverged labels") {
    val s = spark
    import s.implicits._
    // 9-vertex path: diameter 8; one round of hop+double covers horizon
    // ~3, so maxRounds=1 cannot reach the fixpoint
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Ops.connectedComponents(edges, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("fixpoint"))
    // ...and enough rounds converges fine on the same graph
    val ok = Ops.connectedComponents(edges, maxRounds = 8).collect()
    assert(ok.forall(_.getLong(1) == 0L))
  }

  test("bfs: multi-source min-hop distances; unreachable nodes absent (r8)") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4-5, triangle 10-11-12 (disconnected), isolated seed 20
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val und = edges.union(edges.select(col("dst"), col("src")))
    val seeds = Seq(1L, 10L, 20L).toDF("node")
    val got = Ops.bfs(und, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      10L -> 0L, 11L -> 1L, 12L -> 1L, 20L -> 0L))
    // node 5 is 4 hops out — not reached within maxHops=3
    assert(!got.contains(5L))
    // a seed inside another seed's reach keeps dist 0 and shortens others
    val got2 = Ops.bfs(und, Seq(1L, 3L).toDF("node"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L, 5L -> 2L))
    // partitioning-invariant
    val again = Ops.bfs(und.repartition(5), seeds.repartition(3), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("rangeBinJoin equals the nested-loop band join on random data") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    // values spread across negative/positive bins, incl. exact bin edges
    val probe = (0 until 300).map(i => (i.toLong, rnd.nextDouble() * 400 - 200))
      .toDF("pid", "v")
    val build = (0 until 80).map(i => (i.toLong, rnd.nextDouble() * 400 - 200))
      .toDF("bid", "c")
    for (w <- Seq(10.0, 33.3)) {
      val exact = col("v") >= col("c") - w && col("v") < col("c") + w
      val got = Ops.rangeBinJoin(probe, build, probeVal = col("v"),
          lo = col("c") - w, hi = col("c") + w, binWidth = w, exact = exact)
        .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      spark.conf.set("spark.graft.bandJoinRewrite", "false") // plain BNLJ twin
      val want = try probe.crossJoin(build).where(exact)
        .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      finally spark.conf.unset("spark.graft.bandJoinRewrite")
      assert(got.toSeq == want.toSeq, s"width $w")
      assert(want.nonEmpty)
    }
  }
}
