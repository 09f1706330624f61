"""Connected components over a pair list — the step that turns near-dup
PAIRS (minhash/simhash/embedding operators) into dedup GROUPS with a
canonical survivor per group (min id).

One algorithm, `connected_components`: large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce and
Beyond"), O(log n) rounds on any component shape, so a deep chain
costs a handful of rounds, not its diameter.
- Membership: the output has one row per DISTINCT node id, and edges
  with an endpoint outside the node set are dropped before round 1 —
  every component label is a node id, so every component has exactly
  one member with n == component (its survivor).
- Each round is two neighborhood aggregations over the canonical
  (child, parent) edge set; lineage is truncated with localCheckpoint
  every round (an iterative self-join otherwise compounds the plan).
  At cluster scale pass checkpoint="reliable" (every iterative operator
  takes the knob; see _truncate) to swap in fault-tolerant
  df.checkpoint() against the session's checkpoint dir.
- Convergence is EXACT: equal edge count (an observed metric riding
  the round's checkpoint materialization) plus an early-out anti-join
  proving new ⊆ old — set equality, type-generic, no probabilistic
  signature. Exhausting max_iters without a fixpoint warns loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

from parkour_spark.operators.sort import explode_fast as _explode_fast


def _truncate(df: DataFrame, checkpoint: str, eager: bool = True) -> DataFrame:
    """Per-round lineage truncation for the iterative operators — the
    cluster-scale knob the module docstring promised in prose (r8
    verdict #6 made it API).

    - "local" (default): `localCheckpoint` — blocks pinned to
      executors, no I/O beyond block manager. Fast, and right for
      local[32]/stable clusters, but NOT fault-tolerant: losing an
      executor loses lineage-truncated blocks and fails the job.
    - "reliable": `df.checkpoint()` to the session's configured
      checkpoint directory (`spark.sparkContext.setCheckpointDir` — an
      HDFS/object-store path at cluster scale). Survives executor
      loss; the right mode for 100 TB runs on preemptible nodes.
      Raises up front with instructions if no directory is set, rather
      than failing rounds deep with Spark's internal error.

    Both modes are RESULT-identical (gate-pinned by the result-identity
    test): checkpointing only truncates lineage, never changes rows."""
    if checkpoint == "local":
        return df.localCheckpoint(eager=eager)
    if checkpoint == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint='reliable' needs a checkpoint directory — "
                "call spark.sparkContext.setCheckpointDir(<hdfs/s3/local"
                " path>) first"
            )
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}"
    )


def _bigstar_round(e: DataFrame) -> DataFrame:
    """ONE large-star + small-star pass over the canonical DISTINCT
    (child, parent) edge set, BEFORE the observe/truncate wrapper.

    Each star phase is ONE neighborhood aggregation (r13, guide
    §2.3/§2.4): the former groupBy-min + join-back-on-key shape
    re-shuffled its own input to re-attach the per-key min, and
    large-star additionally paid a distinct exchange whose only
    consumer was the small-star dedup. collect_set(b) groups the
    whole neighborhood once — the min is array_min, the re-point
    targets come from exploding the same array, and the set semantics
    subsume the dropped large.distinct() (duplicate (child, parent)
    emissions collapse in the next groupBy / final distinct). 6
    exchanges per round → 3. Per-key state is now the neighborhood
    array (the Kiveris MR formulation's reducer input); degrees here
    are bounded by the candidate generators' bucket caps, and
    large-star keeps halving neighborhoods as contraction proceeds."""
    # large-star over the symmetric view
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    lg = sym.groupBy("a").agg(F.collect_set("b").alias("__nb"))
    large = (
        _explode_fast(
            lg.select(
                "a",
                F.least(F.col("a"), F.array_min("__nb")).alias("m"),
                "__nb",
            ),
            "__nb",
            "b",
            keep=["a", "m"],
        )
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    # small-star over the canonical (child > parent) view
    sg = large.groupBy("a").agg(F.collect_set("b").alias("__ps"))
    sg = sg.select("a", F.array_min("__ps").alias("m"), "__ps")
    return (
        _explode_fast(sg, "__ps", "b", keep=["a", "m"])
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(sg.select("a", F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 30,
    checkpoint: str = "local",
) -> DataFrame:
    """(n, component) for every DISTINCT node id, where component = min
    node id reachable; isolated nodes are their own component.

    Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", §3 — the two-phase
    algorithm): O(log n) rounds, so chains thousands of hops deep
    (spam clusters, template farms) collapse in ~10 rounds. Each round
    is `_bigstar_round`:
    - large-star(u): every neighbor v > u re-points to
      m = min(Γ(u) ∪ {u}) — computed over the SYMMETRIC edge view.
    - small-star(u): every smaller neighbor (and u itself) re-points to
      the neighborhood min — computed over the canonical child>parent
      view that both phases emit, so only large-star pays the
      symmetrize.
    Both phases emit (child, parent) with parent < child, so the edge
    set stays canonical; at fixpoint it IS the star set
    (node → component min).

    Membership: an edge with an endpoint outside `nodes` is dropped
    before round 1, so every label is a node id (a "ghost" endpoint
    would otherwise become the min of its component, and no member
    would be its own survivor). Labels keep the ids' native orderable
    type (string doc ids are first-class).

    Convergence is EXACT: equal edge count plus an empty
    (new MINUS old) anti-join — set equality of two canonical DISTINCT
    edge sets, type-generic, no hash-collision false stop. The count
    rides each round's checkpoint materialization as an observed
    metric. Exhausting `max_iters` without a fixpoint warns loudly.
    `checkpoint="reliable"` is the fault-tolerant cluster mode (see
    _truncate); the returned labels are materialized through it too,
    so callers (cc_delta_update's broadcast fan-out) plan over a
    truncated, sized frame."""
    # The distinct node set is read twice (the membership semi-joins and
    # the final labels join); checkpointing it once keeps a caller's
    # expensive `nodes` lineage (cc_delta_update's unions) from running
    # twice.
    ids = (
        nodes.select(F.col(node_col).alias("n"))
        .distinct()
        .transform(lambda d: _truncate(d, checkpoint))
    )
    obs0 = Observation()
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b")
        )
        .distinct()
        .join(ids.select(F.col("n").alias("a")), "a", "leftsemi")
        .join(ids.select(F.col("n").alias("b")), "b", "leftsemi")
        .select("a", "b")
        # edge counts ride the checkpoint materializations as observed
        # metrics (r12: a separate count() was one extra job per round)
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .transform(lambda d: _truncate(d, checkpoint))
    )
    n_prev = obs0.get["n"]
    for _ in range(max_iters):
        obs = Observation()
        small = (
            _bigstar_round(e)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .transform(lambda d: _truncate(d, checkpoint))
        )
        n_new = obs.get["n"]
        # Both sides are canonical DISTINCT (child, parent) sets, so
        # equal counts + empty (new MINUS old) ⟺ set equality — exact.
        # isEmpty plans the limit as CollectLimit; `limit(1).count()`
        # codegens a GlobalLimit whose counter field gets a fresh name in
        # every plan, so its classes missed the codegen cache every round.
        unchanged = (
            n_new == n_prev
            and small.join(e, ["a", "b"], "left_anti").isEmpty()
        )
        e = small
        n_prev = n_new
        if unchanged:
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iters} rounds "
            "— component labels may be partially contracted; raise "
            "max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    return (
        ids.join(e.select(F.col("a").alias("n"), F.col("b").alias("p")), "n", "left")
        .select("n", F.coalesce("p", "n").alias("component"))
        .transform(lambda d: _truncate(d, checkpoint))
    )


connected_components_bigstar = connected_components


def dedup_survivors(
    nodes: DataFrame,
    pairs: DataFrame,
    node_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(doc_id, component, is_survivor): group near-dup pairs into
    components and keep the min doc_id of each — the standard
    keep-one-per-cluster dedup policy."""
    cc = connected_components(nodes, pairs, node_col, src, dst)
    return cc.select(
        F.col("n").alias(node_col),
        "component",
        (F.col("n") == F.col("component")).alias("is_survivor"),
    )


def cc_delta_update(
    components: DataFrame,
    new_nodes: DataFrame,
    new_edges: DataFrame,
    node_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Incremental connected components: fold an ingest batch's nodes
    and edges into an EXISTING (node, component) table without
    recomputing the corpus graph — the graph-index lifecycle step that
    keeps near-dup components current as a 100 TB corpus grows (the
    `minhash_index_append` of the component world, with the same
    result-identity guarantee: `delta(CC(A), B) ≡ CC(A ∪ B)`).

    Requires the min-id labeling `connected_components` produces
    (component = min reachable node id). That convention is what makes
    contraction sound: each existing component participates as ONE
    super-node — its component id — and since that id is the min of
    its members, the min over merged super-nodes equals the min over
    all underlying nodes, so the delta result is bit-identical to a
    full recompute (the registered gate entry pins this against the
    full-closure oracle).

    `new_edges` must carry EVERY pair with at least one endpoint
    outside `components` (new↔new and new↔old; old↔old edges were
    already folded into the labels and may be omitted). Endpoints
    found in neither table are treated as new nodes. `new_nodes` ids
    must be disjoint from `components` (the standard delta contract).

    SCALE — the corpus-sized component table is NEVER shuffled:
      1. restrict it to the batch's endpoints (broadcast semi-join —
         one scan, batch-sized output);
      2. contract batch edges through that mapping and run CC on the
         contracted graph — batch edges + touched components, never
         corpus-sized;
      3. fan the new labels back with a broadcast join keyed on the
         OLD component id (one more scan; only touched components'
         rows change, untouched rows pass through a left anti join).
    Per-batch cost ∝ batch + touched components + 2 corpus scans;
    zero corpus shuffles (test-asserted: no SortMergeJoin)."""
    c = components.select(
        F.col(node_col).alias("__n"), F.col("component").alias("__c")
    )
    e = new_edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
    eps = (
        e.select(F.col("__a").alias("__p"))
        .union(e.select(F.col("__b").alias("__p")))
        .distinct()
    )
    # Persisted AND eagerly materialized (r12): `touched` is BATCH-sized
    # by construction (the batch's endpoints ∩ corpus) but was consumed
    # three times (the two contraction maps + the new-node anti-join),
    # each reference re-running the corpus component scan + broadcast
    # join — the docstring's "2 corpus scans" contract was actually 4
    # without the cache. The caller owns the blocks (house contract).
    touched = (
        c.join(F.broadcast(eps), F.col("__n") == F.col("__p"))
        .select("__n", "__c")
        .persist()
    )
    touched.count()
    ma = touched.select(
        F.col("__n").alias("__ka"), F.col("__c").alias("__ca")
    )
    mb = touched.select(
        F.col("__n").alias("__kb"), F.col("__c").alias("__cb")
    )
    contracted_edges = (
        e.join(F.broadcast(ma), F.col("__a") == F.col("__ka"), "left")
        .join(F.broadcast(mb), F.col("__b") == F.col("__kb"), "left")
        .select(
            F.coalesce("__ca", "__a").alias("id_a"),
            F.coalesce("__cb", "__b").alias("id_b"),
        )
    )
    # "new" = declared batch nodes ∪ edge endpoints known to neither
    # table (treated as new nodes per the docstring contract)
    nn = (
        new_nodes.select(F.col(new_nodes.columns[0]).alias("id"))
        .union(
            eps.join(
                F.broadcast(touched), F.col("__p") == F.col("__n"),
                "left_anti",
            ).select(F.col("__p").alias("id"))
        )
        .distinct()
    )
    contracted_nodes = (
        nn.select("id")
        .union(touched.select(F.col("__c").alias("id")))
        .union(contracted_edges.select(F.col("id_a").alias("id")))
        .union(contracted_edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    res = connected_components(contracted_nodes, contracted_edges, "id").select(
        F.col("n").alias("__super"), F.col("component").alias("__new")
    )
    updated = c.join(
        F.broadcast(res), F.col("__c") == F.col("__super")
    ).select(F.col("__n").alias("n"), F.col("__new").alias("component"))
    untouched = c.join(
        F.broadcast(res), F.col("__c") == F.col("__super"), "left_anti"
    ).select(F.col("__n").alias("n"), F.col("__c").alias("component"))
    fresh = nn.join(
        F.broadcast(res), nn.id == F.col("__super")
    ).select(F.col("id").alias("n"), F.col("__new").alias("component"))
    out = untouched.unionByName(updated).unionByName(fresh)
    # Discharge handle (r13, ADVICE fix): the batch-sized `touched`
    # persist backs the lazily-returned result, so it cannot unpersist
    # here — it rides on the returned DataFrame as ._parkour_persisted
    # for callers in long-lived sessions to release once consumed.
    out._parkour_persisted = [touched]
    return out


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 3,
    damping_micro: int = 850_000,
    checkpoint: str = "local",
) -> DataFrame:
    """PageRank over an undirected pair list (each pair contributes both
    directions), run a FIXED number of iterations in integer MICRO-rank
    units — rank mass starts at 1e6 per node and every per-edge
    contribution is rounded to an integer BEFORE the neighbor sum, so
    the aggregate is order-independent and the whole trajectory is
    engine-exact (the same discipline as the LM scores; a float
    PageRank's Σ contributions differs per partition order).

    r_{t+1}(v) = (1-d)·1e6 + Σ_{u→v} round(d · r_t(u) / deg(u))

    On the near-dup graph this ranks CENTRALITY inside dup clusters —
    the natural "canonical document" choice (most-connected survivor)
    versus dedup_survivors' min-id policy. Isolated nodes hold the base
    rank.

    SCALE: one equi-join + one aggregation per round over the (src,
    dst) list, degrees computed once, lineage truncated per round with
    localCheckpoint (reliable checkpoint dir on a cluster). Fixed
    iteration count keeps it one short chain of shuffles;
    convergence-to-tolerance is a driver loop away but loses the
    closed-form oracle."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    base = 1_000_000 - damping_micro
    ranks = nodes.select(
        F.col(node_col).alias("n"), F.lit(1_000_000).cast("long").alias("r")
    ).transform(lambda d: _truncate(d, checkpoint))
    for _ in range(iters):
        contribs = (
            sym.join(ranks, sym.a == ranks.n)
            .join(deg, "a")
            .select(
                F.col("b").alias("n2"),
                F.round(
                    F.lit(damping_micro / 1e6) * F.col("r") / F.col("deg")
                ).cast("long").alias("c"),
            )
            .groupBy("n2")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            ranks.join(contribs, ranks.n == contribs.n2, "left")
            .select(
                "n",
                (F.lit(base) + F.coalesce(F.col("in_sum"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            .transform(lambda d: _truncate(d, checkpoint))
        )
    return ranks.select(F.col("n").alias(node_col), F.col("r").alias("rank_micro"))


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the node-iterator++ / Cohen MapReduce scheme): orient every edge
    from the lower-(degree, id) endpoint to the higher one, so each
    triangle is enumerated exactly once as a wedge a→b, a→c (a its
    lowest-ranked corner) closed by b→c. Orientation bounds per-node
    out-degree by ~sqrt(2m) on any graph — the wedge fan-out that makes
    naive triangle join quadratic on hot nodes stays bounded at scale.

    Three shuffles total: degree agg, wedge self-join on the low
    corner, closing semi-equi-join; then one explode+agg to credit all
    three corners. Returns (node, n_triangles), nodes with ≥1 only.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n")).union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient: lower (degree, id) endpoint -> higher
    ranked = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("lo"), F.col("o.hi").alias("hi"))
    )
    # Referenced three times below (both wedge sides + the closing
    # semi-join); without this, the whole upstream edge derivation —
    # for the registered query, the MinHash signature + band + verify
    # pipeline — re-executes per reference. Edge-sized and deduped by
    # the CacheManager across invocations (bounded session cache, same
    # adjudication as the pmi/ngram-capped persists).
    ranked = ranked.persist()
    w1 = ranked.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    w2 = ranked.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    tri = wedges.join(
        ranked.select(
            F.least("lo", "hi").alias("b"), F.greatest("lo", "hi").alias("c")
        ).distinct(),
        ["b", "c"],
        "left_semi",
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def kcore(
    edges: DataFrame,
    k: int = 2,
    iters: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint: str = "local",
) -> DataFrame:
    """k-core decomposition by fixed-iteration peeling: repeatedly drop
    nodes with degree < k (and their edges) until stable. Each round is
    one degree aggregation + one semi-join — the same primitives as
    connected components. `iters` is FIXED (not early-out) so the
    computation is a pure function of the input and replayable as
    unrolled oracle CTEs; callers size iters so peeling has converged
    (each round removes at least one node until stable, so iters ≥
    peel depth — shallow for near-dup graphs; a test asserts an extra
    round is a no-op at the registered setting).

    Returns (node, degree) for nodes surviving in the k-core, with
    their final in-core degree.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    for _ in range(iters):
        deg = (
            e.select(F.col("a").alias("n"))
            .union(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            # Lazy marks only under 'local' (the fixed-round LPA
            # rationale); 'reliable' stays eager per round — non-eager
            # reliable checkpoints are only marked, so lazy would
            # collapse per-round fault tolerance into one unprotected
            # job (r13, the ADVICE LPA fix applied consistently here).
            .transform(
                lambda d: _truncate(
                    d, checkpoint, eager=(checkpoint == "reliable")
                )
            )
        )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.where(F.col("degree") >= k)


def _lpa_round(labels: DataFrame, sym: DataFrame) -> DataFrame:
    """ONE synchronous LPA round — (a, __new) per node, BEFORE the
    truncate wrapper.

    (count DESC, label ASC) argmax as min(struct(-cnt, lbl)) —
    result-identical to the former row_number window (struct ordering
    is field-lexicographic, so min = largest count then smallest
    label) but partially aggregable: the exchange ships one
    best-so-far row per (partition, a) instead of every (a, lbl, cnt)
    row, and the per-partition SORT the window needed disappears (r12
    optimization, guide §2.3 "aggregate before you shuffle")."""
    counts = (
        sym.join(labels, sym.b == labels.n)
        .groupBy("a", "lbl")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.groupBy("a")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("lbl").alias("l"))
            ).alias("__m")
        )
        .select(F.col("a"), F.col("__m.l").alias("__new"))
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    rounds: int = 4,
    checkpoint: str = "local",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with
    deterministic tie-breaking: every node starts labeled with its own
    id; each round, every node adopts the label occurring MOST OFTEN
    among its neighbors (ties → smallest label; isolated nodes keep
    their own). Unlike connected components (pure reachability), LPA
    splits a weakly-bridged graph at its sparse cuts — the community
    view of a near-dup graph, where one accidental pair should not
    merge two dense duplicate clusters.

    Deterministic by construction: SYNCHRONOUS updates (classic LPA's
    random asynchronous order is irreproducible), a FIXED round count,
    and the (count DESC, label ASC) argmax — a pure function of the
    input, so the oracle unrolls the rounds as CTEs. Each node also
    votes for its OWN current label (a self-loop in the vote graph):
    without the self-vote, synchronous LPA oscillates on bipartite
    structures — a bare near-dup PAIR swaps labels every round and
    lands back split after any even round count. Each round is one
    shuffle (neighbor-label count) + one partially-aggregated
    min(struct(-cnt, lbl)) argmax (r12 — the former row_number window
    paid a per-partition sort and shipped every (node, label, count)
    row); lineage is truncated per round (lazily — see the loop
    comment)."""
    labels = nodes.select(
        F.col(node_col).alias("n"), F.col(node_col).alias("lbl")
    ).transform(lambda d: _truncate(d, checkpoint))
    # Vote-source endpoints are restricted to the node set ONCE here
    # (r12): every node holds a
    # self-loop vote row, so the per-round argmax's key set is exactly
    # the node set and the old labels-keyed LEFT join + coalesce that
    # re-imposed membership every round is redundant. The semi-join
    # reads the CHECKPOINTED labels blocks, not `nodes`' lineage.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .union(
            nodes.select(
                F.col(node_col).alias("a"), F.col(node_col).alias("b")
            )
        )
        .distinct()
        .join(
            labels.select(F.col("n").alias("__nid")),
            F.col("a") == F.col("__nid"),
            "leftsemi",
        )
        .persist()
    )
    for rnd in range(rounds):
        best = _lpa_round(labels, sym)
        # `best` IS the next label table (r12): its key set equals the
        # node set (self-loop votes + the one-time endpoint
        # restriction above), so the old labels-keyed LEFT join +
        # coalesce added nothing. Truncation is LAZY except on the
        # last round: LPA runs a FIXED round count with no per-round
        # driver decision, so nothing needs a materialization barrier
        # inside the loop — the final eager checkpoint runs the whole
        # chain in one job while every round's plan still collapses to
        # the previous round's checkpoint-marked blocks.
        # (connected_components reads a convergence metric per round,
        # so it stays eager.) The last round IS eager: sym's
        # cache blocks must outlive every consumer, so the chain
        # materializes before the unpersist below.
        # Under checkpoint='reliable' EVERY round stays eager (r13,
        # ADVICE fix): non-eager reliable checkpoints are only marked,
        # and Spark checkpoints just the final RDD of the job — lazy
        # marks would silently collapse the documented per-round fault
        # tolerance into one unprotected rounds-deep job.
        labels = best.select(
            F.col("a").alias("n"), F.col("__new").alias("lbl")
        ).transform(
            lambda d: _truncate(
                d,
                checkpoint,
                eager=(rnd == rounds - 1 or checkpoint == "reliable"),
            )
        )
    sym.unpersist()
    return labels.select(F.col("n").alias(node_col), F.col("lbl").alias("label"))


def dedup_survivors_by(
    nodes: DataFrame,
    pairs: DataFrame,
    node_col: str = "doc_id",
    score_col: str = "score",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component, score, is_survivor) with the KEEP-BEST policy:
    the survivor of each near-dup component is its highest-`score_col`
    member (ties broken by min node id — a total order, so the choice
    is deterministic on any engine or layout). `dedup_survivors`'s
    min-id policy discards quality information; production pipelines
    keep the best-quality member of each duplicate cluster (e.g.
    quality_bp from functions.text), which this implements with ONE
    extra component-keyed window over the component table — no extra
    corpus scan (`nodes` already carries the score)."""
    from pyspark.sql import Window

    cc = connected_components(
        nodes.select(node_col), pairs, node_col, src, dst
    )
    j = cc.join(nodes.withColumnRenamed(node_col, "n"), "n")
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col("n")
    )
    return j.select(
        F.col("n").alias(node_col),
        "component",
        F.col(score_col),
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected graph:

        lcc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1))

    — the cluster-cohesion signal on a near-dup graph: a node whose
    neighbors all match EACH OTHER (lcc → 1) sits in a true duplicate
    clique; a high-degree node with lcc → 0 is a hub stitching
    unrelated docs together (boilerplate / template contamination) and
    a candidate for edge-cutting before `dedup_groups` merges its
    whole neighborhood.

    Composes `triangle_count` (degree-ordered orientation — wedge
    fan-out stays ~sqrt(2m)-bounded) with the degree table; the ratio
    is exact integer arithmetic: lcc_micro = (2·10⁶·t) div (d·(d−1)),
    0 for degree-1 nodes. Returns (node, degree, n_triangles,
    lcc_micro) for every node of the edge set.

    SCALE: the canonical edge table is persisted ONCE here and feeds
    both the triangle pipeline and the degree aggregate — without it
    the upstream pair-generation (e.g. the whole MinHash detect) would
    re-execute per consumer. Caller-owned cache lifetime (the
    jaccard_verify contract). Everything downstream of the first
    groupBy is node-sized."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    tri = triangle_count(e, "a", "b")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "div(2000000 * coalesce(n_triangles, 0), "
                    "degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_micro"),
        )
    )


def contrastive_pairs(
    survivors: DataFrame,
    node_col: str = "doc_id",
) -> DataFrame:
    """(anchor_id, positive_id, component) training pairs from a
    keep-best dedup run (`dedup_survivors_by` output): every
    non-survivor member anchors one pair with its component's
    best-quality survivor — near-duplicates are natural positives for
    contrastive/retrieval training (same content, organic paraphrase
    and boilerplate variation), and the survivor is the cleanest
    exemplar of each cluster. Singleton components contribute nothing
    (no duplicate ⇒ no organic positive).

    SCALE: one component-keyed equi-join over the component table
    (node-sized, never a corpus re-scan); fan-out per component =
    members − 1 exactly, because the positive side holds ONE row per
    component by the keep-best argmax."""
    pos = survivors.where(F.col("is_survivor")).select(
        "component", F.col(node_col).alias("positive_id")
    )
    anchors = survivors.where(~F.col("is_survivor")).select(
        "component", F.col(node_col).alias("anchor_id")
    )
    return anchors.join(pos, "component").select(
        "anchor_id", "positive_id", "component"
    )
