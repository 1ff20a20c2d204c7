package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated blobs around (0,0) and (10,10); ids fix the
  // deterministic init (k lowest-id vectors = one from each blob)
  private def blobs = Seq(
    (0L, Seq(0.1f, 0.0f)), (2L, Seq(-0.1f, 0.2f)), (4L, Seq(0.0f, -0.2f)),
    (1L, Seq(10.1f, 9.9f)), (3L, Seq(9.8f, 10.2f)), (5L, Seq(10.0f, 10.0f))
  ).toDF("id", "vec")

  test("assign: nearest centroid wins, ties go to the smallest cid") {
    val cents = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)))
      .toDF("cid", "cvec")
    val out = Clustering.assign(blobs, "id", "vec", cents, "cid", "cvec")
      .orderBy("id").collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 1L), (4L, 0L), (5L, 1L))
    // equidistant point: min(struct(d2, cid)) must pick cid 0
    val mid = Seq((99L, Seq(5.0f, 5.0f))).toDF("id", "vec")
    Clustering.assign(mid, "id", "vec", cents, "cid", "cvec")
      .first().getLong(1) shouldBe 0L
  }

  test("assign exact=true (decimal distances) agrees on separated data") {
    val cents = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)))
      .toDF("cid", "cvec")
    val fast = Clustering.assign(blobs, "id", "vec", cents, "cid", "cvec")
      .orderBy("id").collect().map(_.toSeq)
    val exact = Clustering.assign(blobs, "id", "vec", cents, "cid", "cvec",
      exact = true).orderBy("id").collect().map(_.toSeq)
    exact shouldBe fast
  }

  test("kmeans: inertia is monotonically non-increasing (Lloyd witness)") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val (cents, inertias) =
      Clustering.kmeansCentroids(vecs, "id", "vec", k = 4, iters = 3)
    val assignments = Clustering.assignLiteral(vecs, "id", "vec", cents)
    inertias.length shouldBe 3
    inertias.sliding(2).foreach { case Seq(a, b) => b should be <= a }
    // every vector gets exactly one cluster in [0, k)
    assignments.count() shouldBe vecs.count()
    val cls = assignments.select("cluster").distinct().as[Long].collect()
    cls.foreach { c => c should (be >= 0L and be < 4L) }
  }

  test("kmeans separates two obvious blobs") {
    val (cents, _) =
      Clustering.kmeansCentroids(blobs, "id", "vec", k = 2, iters = 3)
    val assign = Clustering.assignLiteral(blobs, "id", "vec", cents)
    val byId = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId(0L) shouldBe byId(2L)
    byId(0L) shouldBe byId(4L)
    byId(1L) shouldBe byId(3L)
    byId(1L) shouldBe byId(5L)
    byId(0L) should not be byId(1L)
  }

  test("distances array is evaluated once per row: the fold consumes a " +
    "named column, not two inline copies") {
    // HOF expressions get limited common-subexpression elimination, so
    // the argmin fold must reference ONE materialized distances array.
    // If CollapseProject ever re-inlines it, the per-centroid `transform`
    // shows up twice in the optimized plan (fold init + slice input) and
    // every row pays k distances twice.
    // parquet-backed input: ConvertToLocalRelation would constant-fold a
    // Seq-backed frame into a LocalRelation and hide the projection shape
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val plan = Clustering.assignWithDist(vecs, "vec_id", "embedding",
      cents, "cid", "cvec").queryExecution.optimizedPlan.toString
    "transform\\(".r.findAllIn(plan).length shouldBe 1
  }

  test("assignment is map-only: centroids fold in as literals — no join, " +
    "no exchange") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val plan = Clustering.assign(vecs, "vec_id", "embedding",
      cents, "cid", "cvec")
      .queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should not include "Exchange"
  }
}
