package graft.tools

import org.apache.spark.sql.functions._

/** Fabricates an F× replica corpus for measured scale probes (SCALE.md
  * "Measured 10× scale probe") so bench runs can compare a query's cost
  * at two scales on the same host:
  *
  *   sbt "runMain graft.tools.ScaleProbe <srcSfDir> <outDir> <factor>"
  *   SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=... sbt "runMain graft.Bench"
  *
  * Fabrication rules (the round-5 probe's, now reproducible):
  * - documents: replica i offsets doc_id by i·(max+1) and deterministically
  *   RESHUFFLES each document's tokens (sort by md5(rep:pos:token)) — the
  *   token/shingle DISTRIBUTION holds but no artificial exact-dup
  *   structure is added (replica 0 is the original corpus verbatim).
  * - embeddings: replica i offsets vec_id and perturbs every dimension by
  *   a small deterministic lattice offset (±6e-3) — neighborhoods stay
  *   realistic, no exact-duplicate vectors.
  * - orders: id-offset replicas (graph probes: the derived mod-2000 edge
  *   list DENSIFIES with F, which is exactly what stresses degree-capped
  *   operators like g17).
  * - customer: id-offset replicas with names REGENERATED from the new
  *   key in the generator's own `Customer#%09d` format, so the
  *   16-char-prefix block structure d24 relies on (exactly 100 names
  *   per block at any scale) holds in every replica — the probe then
  *   measures F× more blocks of constant size, which is d24's claimed
  *   scale property.
  * - events: (event_id, user_id)-offset replicas — F× more USERS at
  *   constant per-user history, the growth mode entity-keyed features
  *   (q88) claim linearity under; timestamps/values untouched so the
  *   time-window families keep their density profile per user.
  *
  * Writes only the tables the probe families read (documents, embeddings,
  * orders, lineitem, customer, events); point probes at queries over
  * those tables.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || (args.length == 4 && args(3) == "--skew-names"),
      "usage: ScaleProbe <srcSfDir> <outDir> <factor> [--skew-names]")
    val Array(src, out, fStr) = args.take(3)
    // --skew-names: 30% of customers share ONE 16-char name prefix —
    // the power-law-name regime that makes a prefix blocker's hot block
    // quadratic (VERDICT r11 item 3; exercises the d22/d24 skew gate)
    val skewNames = args.length == 4
    val f = fStr.toInt
    require(f >= 1, s"factor must be >= 1, got $f")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val reps = spark.range(f).toDF("rep")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          array_join(
            transform(
              array_sort(transform(split(col("text"), " "), (t, i) =>
                struct(
                  md5(concat_ws(":", col("rep"), i, t)).as("k"),
                  t.as("t")))),
              s => s.getField("t")),
            " ")).as("text"),
        col("lang"), col("source"),
        length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * maxVec).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, d) =>
            (x + ((pmod(col("vec_id") * 31 + d * 7 + col("rep") * 13, lit(13)) - 6)
              .cast("float") * lit(0.001f))).cast("float"))).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    val maxOrd = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    val maxCust = orders.agg(max("o_custkey")).head().getLong(0) + 1
    orders.crossJoin(reps)
      .select(
        (col("o_orderkey") + col("rep") * maxOrd).as("o_orderkey"),
        (col("o_custkey") + col("rep") * maxCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    val cust = spark.read.parquet(s"$src/customer.parquet")
    val maxCustK = cust.agg(max("c_custkey")).head().getLong(0) + 1
    val plainName =
      format_string("Customer#%09d", col("c_custkey") + col("rep") * maxCustK)
    cust.crossJoin(reps)
      .select(
        (col("c_custkey") + col("rep") * maxCustK).as("c_custkey"),
        // skew mode: 30% of rows share the 16-char prefix
        // "SkewedCorpName00" (suffix keeps names unique) — one hot
        // block the plain prefix-blocked self-join would enumerate in
        // a single quadratic task
        (if (skewNames)
          when((col("c_custkey") + col("rep") * maxCustK) % 10 < 3,
            format_string("SkewedCorpName00%09d",
              col("c_custkey") + col("rep") * maxCustK))
            .otherwise(plainName)
        else plainName).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    // lineitem: l_orderkey offsets by the ORDERS key stride so each
    // replica's lines attach to its replica's orders (q91's semi-join
    // and m27's baskets replicate exactly); l_partkey is NOT offset —
    // the item universe is fixed and only the basket count grows, the
    // growth mode association-rule mining claims linearity under
    // (supports scale xF, N scales xF, so confidence/lift are
    // replica-invariant).
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    li.crossJoin(reps)
      .select(
        (col("l_orderkey") + col("rep") * maxOrd).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxEv = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("rep") * maxEv).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // static dimension tables ride along UNCHANGED (their size does not
    // scale with the fact tables — the point of the probe): q87/q89/q90/
    // q91-style dim-joining queries stay runnable against the replica
    for (dim <- Seq("nation", "region", "part", "supplier"))
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$out/$dim.parquet")

    println(s"[probe] wrote ${f}x corpus to $out " +
      s"(docs=${maxDoc * f}, vecs=${maxVec * f}, orders≈${orders.count() * f}, " +
      s"customers=${maxCustK * f})")
    spark.stop()
  }
}
