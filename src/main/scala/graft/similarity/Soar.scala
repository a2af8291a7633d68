package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SOAR spilled IVF assignment (Sun, Guo, Kumar — NeurIPS 2023, the
  * ScaNN v1.2 index improvement): every vector lands in its primary
  * (nearest-L2) cell AND one secondary cell chosen by the
  * orthogonality-amplified residual loss
  *
  *   loss(x, c) = ‖x − c‖² + λ·⟨r, x − c⟩²/‖r‖²,   r = x − c₁,
  *
  * i.e. among the remaining cells, prefer one whose OWN residual is
  * orthogonal to the primary residual. Rationale: a query that the
  * primary cell mis-serves is, in expectation, one nearly parallel to r
  * (the quantization error shows up in ⟨q, x⟩ exactly when q ∥ r) — so
  * the backup copy should sit in a cell that is accurate precisely
  * along r. Plain multi-assignment (second-nearest cell) tends to pick
  * a center on the SAME side as c₁, whose residual is again parallel to
  * r — redundant coverage; the λ term buys failure-mode-diverse
  * coverage for the same 2× posting-list budget. λ = 0 degenerates to
  * plain second-nearest multi-assignment; the paper's default is ~1.
  *
  * Scale shape (the [[Knn.cellPicks]] discipline): centroids broadcast;
  * the candidate scoring is one map-side pass whose output narrows to
  * (id, centroid_id, loss) BEFORE any exchange, and the per-id argmin
  * is the bounded-heap [[graft.functions.TopKPairs]] aggregate — never
  * a window, never a struct-min (the r14 2 M build post-mortem). The
  * storage price is explicit and linear: the spilled index holds every
  * vector twice, so probed cells scan ~2× the rows of a single-assigned
  * index at equal nprobe.
  *
  * Measured at 2 M (SCALE.md §r15 SOAR): the SPILL is the big dial —
  * +0.12 recall@10 at nprobe=1 over single assignment under exact
  * scoring, +0.10 under the IVFADC serving shape once the ADC
  * shortlist scales with the spilled list (≳1–2% of probed rows) —
  * i.e. any given recall at HALF the probes, and at 100 TB a probe is
  * a scheduled scan task, so probe count is tail-latency exposure.
  * The λ term's effect is regime-dependent and measured on BOTH sides
  * (SCALE.md §r16): on the manifold fixture (isotropic within-cell
  * residuals — little exploitable structure along r) λ=1 sits within
  * one-hit noise of plain second-nearest under exact AND ADC scoring;
  * on an anisotropic fixture (per-cell principal residual directions,
  * cells splitting clusters — the paper's target regime)
  * λ=1 beats λ=0 by +0.010 recall@10 at every unsaturated point, four
  * conditions same-direction, at equal-or-fewer scanned rows. λ costs
  * nothing at serving time (assignment-time only, identical plans), so
  * it ships on by default; SoarSpec pins the geometry preference on a
  * hand fixture.
  *
  * Reference tie-in: the reference serves exact pgvector `<=>` scans
  * (readwise_vector_db/core/search.py:44-122); this is the 100-TB
  * partition-pruned form of its recall story, one rung above the plain
  * IVF family (q47/q82) on the accuracy-per-probe ladder.
  *
  * The assignment math is SQL-replicable dot expansions (the q109/q156
  * float discipline) and oracle-gated end-to-end (q157); the RECALL
  * claim — spilled lists beat single assignment at equal nprobe — is
  * SoarSpec's measured gate (a candidate-superset argument makes ≥
  * structural; the strict win is measured on a boundary-heavy fixture).
  */
object Soar {

  /** The secondary-assignment loss of `v` against candidate codeword
    * `c`, given the primary codeword `c1` — every dot the sequential
    * double expansion ([[Knn.l2sq]]'s trees, `⟨r, x−c⟩` expanded
    * bilinearly), so the oracle replays it term for term. `‖r‖² = 0`
    * (the vector IS its primary centroid) guards to plain L2: every
    * direction is equally orthogonal to a zero residual. */
  def secondaryLoss(v: Column, c: Column, c1: Column,
      lambda: Double): Column = {
    val l2 = Knn.l2sq(v, c)
    // ⟨x−c₁, x−c⟩ = ⟨x,x⟩ − ⟨x,c⟩ − ⟨c₁,x⟩ + ⟨c₁,c⟩ (left-assoc, the
    // exact float tree the q157 oracle writes)
    val rdot = graft.functions.dot_product(v, v) -
      graft.functions.dot_product(v, c) -
      graft.functions.dot_product(c1, v) +
      graft.functions.dot_product(c1, c)
    val rnorm = Knn.l2sq(v, c1)
    when(rnorm === lit(0.0), l2)
      .otherwise(l2 + lit(lambda) * rdot * rdot / rnorm)
  }

  /** Spilled assignment: (id, v, centroid_id, crank) with crank = 1 the
    * `primaryDist`-nearest cell (L2 by default; the lifecycle index
    * passes its own cosine so spilling is purely ADDITIVE over the
    * single-assignment layout) and crank = 2 the SOAR secondary (argmin
    * of [[secondaryLoss]] over the OTHER cells — always the L2-residual
    * form, which is what the loss is derived in — ties toward the lower
    * centroid id). Needs ≥ 2 cells. Output rows = 2·|corpus|: the
    * doubled footprint is the operator's contract, not an accident.
    * `attrCols` ride the id re-attach join like [[Knn.ivfAssign]]'s —
    * never the rank exchange. */
  def assign(corpus: DataFrame, vecCol: String, keyCol: String,
      centroids: DataFrame, lambda: Double = 1.0,
      attrCols: Seq[String] = Nil,
      primaryDist: (Column, Column) => Column = Knn.l2sq): DataFrame = {
    val c = corpus.select(col(keyCol).as("id") +: col(vecCol).as("v") +:
        attrCols.map(col): _*)
      .filter(col("v").isNotNull)
    val cents = centroids.select(col("centroid_id"), col("cvec"))
    // enforce the "needs ≥ 2 cells" contract: with one centroid the
    // secondary argmin relation is EMPTY and the union would silently
    // emit one copy per vector — an unspilled layout under a spillmeta
    // sidecar that claims otherwise. The centroid set is driver-sized
    // (it broadcasts below), so the count is a trivial job.
    require(cents.count() >= 2,
      "Soar.assign: spilled assignment needs >= 2 centroids (with one " +
        "cell there is no secondary to spill to — build unspilled)")
    val cidT = cents.schema("centroid_id").dataType
    val primary = Knn.cellPicks(c.select(col("id"), col("v")), cents,
        nprobe = 1, primaryDist)
      .drop("crank")
    // primary codeword re-attached via the broadcast side (cells are
    // KBs); the corpus row itself ships once, on the id equi-join
    val withC1 = c.join(primary, Seq("id"))
      .join(broadcast(cents.select(col("centroid_id"),
        col("cvec").as("c1vec"))), Seq("centroid_id"))
      .select(col("id"), col("v"), col("centroid_id").as("c1"),
        col("c1vec"))
    // candidate scoring stays map-side (broadcast cents); only
    // (id, centroid_id, loss) reaches the bounded-heap rank exchange
    val scored = withC1.crossJoin(broadcast(cents))
      .filter(col("centroid_id") =!= col("c1"))
      .select(col("id"), col("centroid_id"),
        secondaryLoss(col("v"), col("cvec"), col("c1vec"), lambda)
          .as("loss"))
    val secondary = scored.groupBy(col("id"))
      .agg(graft.functions.topk_pairs(col("loss"), col("centroid_id"), 1)
        .as("tk"))
      .select(col("id"),
        col("tk").getItem(0).getField("id").cast(cidT).as("centroid_id"))
    val outCols = col("id") +: col("v") +: attrCols.map(col)
    val prim = c.join(primary, Seq("id"))
      .select(outCols :+ col("centroid_id") :+ lit(1).as("crank"): _*)
    val sec = c.join(secondary, Seq("id"))
      .select(outCols :+ col("centroid_id") :+ lit(2).as("crank"): _*)
    prim.unionByName(sec)
  }

  /** Top-k over the `nprobe` L2-nearest cells of a SPILLED assignment.
    * Same pruning shape as [[Knn.ivfTopKProbes]] — only probed cells'
    * rows are scored — plus one narrow dedup: a vector whose primary
    * AND secondary cells are both probed scores twice with the same
    * distance, so copies collapse via a map-side-combinable min on
    * (id, score) (never a wide dropDuplicates over vector-carrying
    * rows) before the final TakeOrdered. */
  def topKProbes(assigned: DataFrame, centroids: DataFrame,
      queryVec: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probed = centroids
      .select(col("centroid_id"),
        Knn.l2sq(col("cvec"), typedLit(queryVec)).as("cdist"))
      .orderBy(col("cdist").asc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id"))
    assigned.join(broadcast(probed), "centroid_id")
      .select(col("id"),
        Knn.l2sq(col("v"), typedLit(queryVec)).as("score"))
      .groupBy(col("id")).agg(min(col("score")).as("score"))
      .orderBy(col("score").asc, col("id").asc)
      .limit(k)
  }
}
