package graft.pipeline

import graft.functions.VecMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-side reference for every nearest-centroid pass: the aggregate
  * argmin — corpus × broadcast(model) crossJoin, then per row the
  * `min(struct(round(vec_sq_dist, 6), id))` — which is what the DuckDB
  * oracles replay. `vec_argmin` must reproduce it exactly, at any k.
  */
object ArgminReference {

  /** (vec_id, cluster) for `ed` (vec_id, ev) against `cent` (cluster, cv). */
  def assign(ed: DataFrame, cent: DataFrame): DataFrame =
    ed.crossJoin(broadcast(cent))
      .withColumn("dist", round(VecMath.vec_sq_dist(col("ev"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"))

  /** The deterministic Lloyd's fit (first-k init, `updates` rounds,
    * 6-dp centroid components) on the aggregate argmin. */
  def kmeans(ed: DataFrame, k: Int, updates: Int): DataFrame = {
    var cent = ed.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("ev").as("cv"))
    for (_ <- 1 to updates)
      cent = assign(ed, cent).join(ed, "vec_id")
        .select(col("cluster"), posexplode(col("ev")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("col")), 6).as("c"))
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cv"))
    cent
  }

  /** PQ with `m` subspaces of `subDim` dims and `ks` codewords (first-ks
    * init, one update): (codebook (j, code, cv), codes (vec_id, j, code)). */
  def pq(ed: DataFrame, m: Int, ks: Int, subDim: Int): (DataFrame, DataFrame) = {
    val svs = ed.select(col("vec_id"), explode(array(
        (0 until m).map(j => struct(lit(j).as("j"),
          slice(col("ev"), j * subDim + 1, subDim).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))
    def codes(cb: DataFrame): DataFrame =
      svs.join(broadcast(cb), "j")
        .withColumn("dist", round(VecMath.vec_sq_dist(col("sv"), col("cv")), 6))
        .groupBy(col("vec_id"), col("j"))
        .agg(min(struct(col("dist"), col("code"))).as("mn"))
        .select(col("vec_id"), col("j"), col("mn.code").as("code"))
    val cb1 = codes(svs.filter(col("vec_id") < ks)
        .select(col("j"), col("vec_id").as("code"), col("sv").as("cv")))
      .join(svs, Seq("vec_id", "j"))
      .select(col("j"), col("code"), posexplode(col("sv")).as(Seq("si", "x")))
      .groupBy(col("j"), col("code"), col("si"))
      .agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("j"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(si, c))), s -> s.c)")
        .as("cv"))
    (cb1, codes(cb1))
  }
}
