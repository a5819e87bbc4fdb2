package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — the clustering step a
  * near-duplicate pipeline needs between "similar pairs" and "keep one
  * representative per group" (pairs alone under-dedupe: A≈B, B≈C must
  * collapse to ONE cluster even when A≈C wasn't a candidate pair).
  *
  * Pregel-style iteration on DataFrames: every vertex starts labeled with
  * its own id; each round every vertex takes the min of its label and its
  * neighbors' labels, then pointer-jumps (lbl := labels(lbl)) — the
  * shortcutting step that makes convergence O(log diameter) instead of
  * O(diameter), which matters on straggly near-threshold graphs. Fixpoint
  * when the label sum stops changing; the sum rides each round's
  * checkpoint as an observed metric (r18) — the only driver traffic is
  * that 1-row metric per round. Only EDGE-INCIDENT vertices iterate (r18):
  * an isolated vertex can never change its label, so the propagation
  * frames are bounded by 2·|edges| — the duplicate-cluster members —
  * never the corpus; isolated vertices return as their own singleton
  * components without riding |rounds| shuffles.
  *
  * Each round ends in `localCheckpoint(eager)`: iterative DataFrames
  * otherwise nest each round's logical plan inside the next and Catalyst
  * re-optimization time grows EXPONENTIALLY (measured: 0.6s → 70s per
  * round by iteration 7 on a 2k-vertex graph). Checkpointing truncates
  * the plan to the materialized partitions.
  *
  * For billion-edge graphs the same loop holds; switch the convergence
  * probe to `sum(cast(lbl as decimal(38,0)))` if id sums can overflow.
  */
object ConnectedComponents {

  /** @param vertices one column `idCol` (distinct vertex ids)
    * @param edges    columns `srcCol`, `dstCol` (undirected; either order)
    * @return columns `id`, `component` (= min vertex id in the component)
    */
  def run(vertices: DataFrame, edges: DataFrame,
          idCol: String = "id", srcCol: String = "src", dstCol: String = "dst",
          maxIter: Int = 20): DataFrame = {
    // integral ids only, refused LOUDLY (the ContextPack discipline):
    // the convergence probe is an exact integer label-sum, and a string
    // id column would cast to all-null under sum() — tripping the
    // empty-input guard below and silently returning every vertex as
    // its own singleton component (clusters never merge, dedup keeps
    // every duplicate). Hash string keys to xxhash64 upstream.
    val idType = vertices.select(col(idCol)).schema.head.dataType
    require(Seq("byte", "short", "int", "long", "integer", "bigint",
        "smallint", "tinyint").contains(idType.simpleString),
      s"ConnectedComponents: id column '$idCol' must be an integral " +
        s"type, got ${idType.simpleString} — hash non-numeric keys " +
        "(e.g. xxhash64) before clustering")
    val verts = vertices.select(col(idCol).as("id"))
    // r18: both orientations from ONE pass over the edge source. The old
    // `edges.union(edges.swapped)` computed the edge subtree TWICE —
    // Catalyst does not share common subexpressions across union
    // branches — and for callers whose pair source is itself a join
    // (dd17's gram-Jaccard pair stage) that doubled the most expensive
    // step of the whole clustering call.
    val bidir = edges
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // r18: iterate ONLY over edge-incident vertices. An isolated vertex
    // (no edges — the overwhelming majority of a deduped corpus) starts
    // as its own label, receives no neighbor labels, and can never
    // change: carrying it through every round just re-shuffled it
    // |rounds| times. It is attached as its own singleton component at
    // the end instead. At 100 TB the iterated frames are bounded by
    // 2·|edges| (the near-duplicate cluster members), not the corpus —
    // per-round cost tracks the duplicates, which is the point of
    // clustering them. `bidir` carries both orientations, so its src
    // column alone covers every endpoint. The vertex set materializes
    // ONCE, carrying its incidence flag: both the active slice and the
    // singleton tail are filters over this one RDD — a second derivation
    // of the caller's vertex frame would re-run whatever synthesized it
    // (measured +0.6 s on dd7, whose vertex frame is the planted-corpus
    // union). This replaces the old whole-vertex-set labels checkpoint —
    // same bytes, one extra narrow column.
    // r18: the initial label sum rides the tagged checkpoint as an
    // observed metric instead of a separate aggregate job — the
    // checkpoint materializes every row anyway (guide §5: fewer driver
    // round-trips per merge-protocol call).
    val obs0 = Observation()
    val tagged = verts
      .join(bidir.select(col("src").as("id")).distinct()
        .withColumn("__inc", lit(true)), Seq("id"), "left")
      .observe(obs0, sum(when(col("__inc"), col("id"))).as("s"))
      .localCheckpoint(true)
    val singletons = tagged.filter(col("__inc").isNull)
      .select(col("id"), col("id").as("component"))
    var labels = tagged.filter(col("__inc"))
      .select(col("id"), col("id").as("lbl"))
    // sum() over zero rows is null — no incident vertex (empty edge set
    // or empty corpus) means nothing can merge: every vertex is its own
    // singleton component, with zero propagation rounds.
    val sum0 = obs0.get("s")
    if (sum0 == null) {
      bidir.unpersist()
      return tagged.select(col("id"), col("id").as("component"))
    }
    var labelSum = sum0.asInstanceOf[Long]
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborLabels = bidir.join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      // checkpoint BEFORE the pointer-jump self-join: truncating here both
      // bounds plan depth per round and sidesteps the analyzer's union
      // constraint rewrite, which cannot handle a self-joined union plan.
      val combined = labels.union(neighborLabels)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(true)
      val jumpTo = combined.select(col("id").as("jid"), col("lbl").as("jlbl"))
      // r18: `next` is checkpointed too, with the convergence sum fused
      // into the same materialization as an observed metric. Before, the
      // pointer-jump join ran TWICE per round — once under the sum probe
      // and again (labels being lazy over the combined RDD) inside the
      // next round's checkpoint — and the probe was its own job. Same
      // label values, same sums, same round count; one join and zero
      // extra jobs per round.
      val obs = Observation()
      val next = combined.join(jumpTo, col("lbl") === col("jid"), "left")
        .select(col("id"), coalesce(col("jlbl"), col("lbl")).as("lbl"))
        .observe(obs, sum("lbl").as("s"))
        .localCheckpoint(true)
      val nextSum = obs.get("s").asInstanceOf[Long]
      converged = nextSum == labelSum
      labels = next
      labelSum = nextSum
      iter += 1
    }
    bidir.unpersist()
    labels.select(col("id"), col("lbl").as("component"))
      .unionByName(singletons)
  }
}
