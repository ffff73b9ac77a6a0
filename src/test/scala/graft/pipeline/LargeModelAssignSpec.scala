package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Models with more than 256 centroids or codewords — where assignment
  * once switched from a per-row literal to an aggregate crossJoin
  * route — fit and assign exactly as the aggregate reference
  * ([[ArgminReference]]) does; a model with nothing to initialise from
  * gives empty frames.
  */
class LargeModelAssignSpec extends SparkSpec {

  private def embeddings = Tables.t(spark, sf, "embeddings")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("k = 300 k-means fit and assignment equal the aggregate reference") {
    val e = embeddings
    val ed = Similarity.edOf(e)
    assert(e.count() == 500L)
    val cent = Similarity.kmeansCentroids(e, 300, 1)
    val refCent = ArgminReference.kmeans(ed, 300, 1)
    assert(cent.count() == 300L)
    assert(rows(cent.select(col("cluster").cast("long"), col("cv"))) ==
      rows(refCent.select(col("cluster").cast("long"), col("cv"))),
      "k = 300 centroids diverged from the aggregate fit")
    val got = rows(Similarity.assignWith(e, cent))
    assert(got.size == 500)
    assert(got == rows(ArgminReference.assign(ed, refCent)),
      "k = 300 assignment diverged from the aggregate argmin")
  }

  test("ks = 300 PQ codebook and codes equal the aggregate reference") {
    val ed = Similarity.edOf(embeddings)
    val (_, cb1, codes) = Similarity.pqModelP(ed, m = 2, ks = 300, subDim = 32)
    val (refCb, refCodes) = ArgminReference.pq(ed, m = 2, ks = 300, subDim = 32)
    val cb = rows(cb1)
    assert(cb.size == 600)
    assert(cb == rows(refCb.select(col("j"), col("code"), col("cv"))),
      "ks = 300 codebook diverged from the aggregate fit")
    val got = rows(codes)
    assert(got.size == 1000)
    assert(got == rows(refCodes), "ks = 300 codes diverged from the aggregate argmin")
  }

  test("no vec_id below k or ks: empty model, no assignments, same schemas") {
    val e = embeddings.filter(col("vec_id") >= 10)
    val cent = Similarity.kmeansCentroids(e, 4, 1)
    val assigned = Similarity.assignWith(e, cent)
    assert(cent.count() == 0L && assigned.count() == 0L)
    assert(assigned.schema.simpleString == "struct<vec_id:bigint,cluster:bigint>")
    val (svs, cb1, codes) = Similarity.pqModelP(Similarity.edOf(e), 2, 4, 32)
    assert(svs.count() == 2 * e.count())
    assert(cb1.count() == 0L && codes.count() == 0L)
    assert(cb1.schema.simpleString == "struct<j:int,code:bigint,cv:array<double>>")
    assert(codes.schema.simpleString == "struct<vec_id:bigint,j:int,code:bigint>")
  }
}
