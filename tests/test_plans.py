"""Physical-plan assertions: the scale properties SURVEY.md §4 promises
(broadcast build side, no probe-side shuffle before the PIP join, filter
pushdown into the parquet scan) hold in the plans Catalyst actually picks."""

from pyspark.sql import functions as F

from prclz_spark import cells as C
from prclz_spark import fixtures as FX
from prclz_spark.operators.complexity import building_centroids
from prclz_spark.operators.sjoin import pip_join


def test_pip_join_is_broadcast_no_probe_shuffle(spark):
    lines, gadm, bldgs = FX.geo_world(spark, 4, 4)
    res = C.choose_resolution(*FX.grid_params(4, 4), n_features=64)
    pts = building_centroids(bldgs, res=res)
    out = pip_join(pts, gadm, "osm_id", "gadm", res=res, how="inner")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the probe side must reach the join without an Exchange (shuffle):
    # with a broadcast join the only Exchange in the plan is the broadcast
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
    assert "Exchange hashpartitioning" not in plan
    # the centroid UDF runs once per building, not again under the pushed
    # `cell IS NOT NULL`; with the region covers and the PIP refine
    assert plan.count("ArrowEvalPython") == 3, plan


def test_pip_join_probe_cell_is_one_projection(spark):
    """A pip_join on raw x/y probes computes the probe cell id in ONE
    Project with one shiftleft (cells.cell_id's (res << 58) | (ix << res) |
    iy), not a chain of bit-spreading projections. The probes come from
    spark.range: a local createDataFrame would fold the cell expression into
    a LocalRelation and hide it."""
    lines, gadm, bldgs = FX.geo_world(spark, 4, 4)
    x0, y0, x1, y1 = FX.grid_params(4, 4)
    res = C.choose_resolution(x0, y0, x1, y1, n_features=64)
    pts = spark.range(64).select(
        F.col("id").alias("pid"),
        (F.lit(x0) + (F.col("id") % 8 + 0.5) * ((x1 - x0) / 8)).alias("x"),
        (F.lit(y0) + (F.floor(F.col("id") / 8) + 0.5) * ((y1 - y0) / 8)).alias("y"),
    )
    out = pip_join(pts, gadm, "pid", "gadm", res=res)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_mrt_" not in plan, plan
    assert plan.count("shiftleft") == 1, plan
    cell_projects = [ln for ln in plan.splitlines() if "Project [" in ln and " AS cell#" in ln]
    assert len(cell_projects) == 1 and "shiftleft" in cell_projects[0], plan
    assert out.count() == 64  # every probe sits inside one region


def test_parquet_filter_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    # column pruning: only the two referenced columns in ReadSchema
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_multiway_join_broadcasts_dims(spark):
    import __spark_entry__ as E

    q = E.queries()["multiway_join_revenue"](spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # nation dim broadcast


def test_reblock_cogroup_linear_shuffles(spark):
    """VERDICT r1 #5: the reblock stage must cogroup parcels and building
    centroids (two linear shuffles) — never join them into a per-block
    P×B cross product before the kernel."""
    from prclz_spark.operators.blocks import extract_blocks
    from prclz_spark.operators.parcels import tessellate
    from prclz_spark.operators.reblock_op import reblock

    lines, gadm, bldgs = FX.geo_world(spark, 4, 4)
    res = C.choose_resolution(*FX.grid_params(4, 4), n_features=64)
    blocks = extract_blocks(lines, gadm, res)
    # materialize parcels so the inspected plan is reblock's own subtree
    # (tessellate's internal block_id join is co-partitioned with its
    # downstream groupBy — a deliberate SMJ, out of scope here)
    parcels = tessellate(blocks, bldgs, res).localCheckpoint()
    rb = reblock(blocks, parcels, bldgs, res)
    plan = rb._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # the parcels and buildings sides meet ONLY in the cogroup: no
    # SortMergeJoin/ShuffledHashJoin anywhere (the only joins are broadcast:
    # block geometry onto parcels, PIP cover cells onto centroids)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_winnow_pairs_no_cartesian(spark):
    """winnow_near_pairs must pair docs ONLY through the fp equi-join —
    no CartesianProduct / nested-loop join may ever appear (that's the
    all-pairs O(n²) failure mode at corpus scale)."""
    from prclz_spark.operators.dedup import winnow_near_pairs

    docs = spark.createDataFrame(
        [(i, "some text body %d" % i) for i in range(20)], "doc_id long, text string"
    )
    plan = winnow_near_pairs(docs, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_iceberg_pruned_scan_pushes_filters(spark, tmp_path):
    """Manifest pruning composes with Catalyst row-filter pushdown: the
    surviving files' scan must show PushedFilters on the stats column."""
    from pyspark.sql import functions as F

    from prclz_spark.sources import iceberg_lite as IL

    t = str(tmp_path / "tbl")
    IL.create_table(t, "doc_id bigint, v bigint")
    IL.append(spark.range(50).selectExpr("id as doc_id", "id*3 as v"), t, stats_cols=["v"])
    IL.append(spark.range(50, 100).selectExpr("id as doc_id", "id*3 as v"), t, stats_cols=["v"])
    df = IL.read(spark, t, prune=("v", 0, 100)).filter(F.col("v") <= 100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(v), LessThanOrEqual(v,100)]" in plan
    # the pruned file set really is smaller
    assert len(IL.files_at(t, prune=("v", 0, 100))) < len(IL.files_at(t))


def test_minhash_band_exchange_ships_no_signatures(spark):
    """VERDICT r3 #7: the LSH band self-join must exchange ONLY
    (id, band, band_hash) — the 64-long signatures are re-joined onto
    surviving candidate pairs, never duplicated bands× through the
    banded shuffle (terabytes of redundant traffic at 10¹⁰ docs)."""
    import re

    from prclz_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "text body %d" % i) for i in range(20)], "doc_id long, text string"
    )
    out = minhash_lsh_pairs(docs, "doc_id", "text")
    ex = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the band join may be a shuffle (hashpartitioning(band…)) or — when
    # the materialized input is known-small — a broadcast; EITHER WAY no
    # exchange carrying the band columns may also carry signatures
    band_exchanges = [
        b
        for b in re.split(r"\n(?=\(\d+\) )", ex)
        if b.startswith("(")
        and "Exchange" in b.split("\n")[0]
        and ("band_hash" in b or "hashpartitioning(band" in b)
    ]
    assert band_exchanges, "expected band-carrying exchanges in the plan"
    for b in band_exchanges:
        assert "sig" not in b, f"signature column rides the band exchange:\n{b}"


def test_minhash_against_corpus_one_scan_no_corpus_exchange(spark, tmp_path):
    """Round-4 VERDICT #1: the incremental against-corpus dedup must scan
    the persisted corpus signature table exactly ONCE, join it to the
    (broadcast) batch bands map-side, and never put the corpus through a
    band-keyed shuffle or a corpus×corpus join."""
    import re

    from prclz_spark.operators.dedup import minhash_pairs_against, minhash_signatures

    corpus_docs = spark.createDataFrame(
        [(i, "corpus body %d" % i) for i in range(50)], "doc_id long, text string"
    )
    t = str(tmp_path / "sigs.parquet")
    minhash_signatures(corpus_docs, "doc_id", "text").write.parquet(t)
    corpus_sigs = spark.read.parquet(t)
    batch = spark.createDataFrame(
        [(1000 + i, "batch body %d" % i) for i in range(5)], "doc_id long, text string"
    )
    out = minhash_pairs_against(
        corpus_sigs, minhash_signatures(batch, "doc_id", "text"), "doc_id"
    )
    ex = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = re.split(r"\n(?=\(\d+\) )", ex)
    corpus_scans = [n for n in nodes if n.split("\n")[0].rstrip().endswith("Scan parquet ")
                    or ("Scan parquet" in n.split("\n")[0] and "sigs.parquet" in n)]
    assert len([n for n in corpus_scans if "sigs.parquet" in n]) == 1, \
        f"corpus must be scanned exactly once:\n{ex}"
    assert "SortMergeJoin" not in ex and "ShuffledHashJoin" not in ex
    assert "BroadcastHashJoin" in ex  # batch side is the build
    # no shuffle is keyed on the band columns: the band join is map-side
    for n in nodes:
        if n.split("\n")[0].startswith("(") and "Exchange" in n.split("\n")[0]:
            assert "hashpartitioning(band" not in n, \
                f"corpus-wide band exchange found:\n{n}"


def test_embedding_bucket_exchange_ships_no_vectors(spark):
    """Round-5 hygiene: the hyperplane-bucket self-join must exchange only
    (id, bucket) — the embedding vectors (the heaviest payload in the
    engine, n_tables× duplicated if exploded) are re-joined onto the
    surviving candidate pairs."""
    import re

    from prclz_spark.operators.dedup import embedding_near_pairs

    e = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_near_pairs(e, "vec_id", "embedding", dim=3)
    ex = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = re.split(r"\n(?=\(\d+\) )", ex)
    # shuffle or broadcast (the eager hot-key pre-pass materializes the
    # bucket cache, so Catalyst may broadcast known-small inputs): no
    # bucket-carrying exchange may also carry the vectors
    bucket_exchanges = [
        n for n in nodes
        if n.split("\n")[0].startswith("(") and "Exchange" in n.split("\n")[0]
        and ("bucket" in n.split("\n")[1] if len(n.split("\n")) > 1 else "bucket" in n)
    ]
    assert bucket_exchanges, "expected bucket-carrying exchanges"
    for n in bucket_exchanges:
        assert "embedding" not in n and "v_a" not in n and "v_b" not in n, n


def test_decontaminate_images_one_train_scan_eval_broadcast(spark, tmp_path):
    """Round-6: image decontamination must scan the (huge) train table
    exactly once for the contamination verdict, broadcast the (small)
    eval phash set, and never shuffle train rows on the band key — the
    same 100 TB shape as the against-corpus dedup it builds on."""
    import re

    from prclz_spark.operators.dedup import decontaminate_images

    t = str(tmp_path / "train.parquet")
    spark.range(2000).select(
        F.col("id").alias("img_id"),
        F.xxhash64(F.col("id").cast("string")).alias("phash"),
    ).write.parquet(t)
    train = spark.read.parquet(t)
    eval_df = spark.createDataFrame(
        [(9000 + i, i * 7919) for i in range(8)], "img_id long, phash long"
    )
    _, contaminated = decontaminate_images(train, eval_df, "img_id")
    ex = contaminated._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = re.split(r"\n(?=\(\d+\) )", ex)
    train_scans = [n for n in nodes if "Scan parquet" in n.split("\n")[0]
                   and "train.parquet" in n]
    assert len(train_scans) == 1, f"train must be scanned exactly once:\n{ex}"
    assert "SortMergeJoin" not in ex and "ShuffledHashJoin" not in ex
    assert "BroadcastHashJoin" in ex
    for n in nodes:
        if n.split("\n")[0].startswith("(") and "Exchange" in n.split("\n")[0]:
            assert "hashpartitioning(band" not in n, \
                f"train-wide band exchange found:\n{n}"


def test_ivf_pq_probe_join_ships_codes_not_vectors(spark):
    """Round-6+: the IVF-PQ candidate join must move only (id, list_id,
    pq_code) on the corpus side — the raw vectors (dim floats vs m bytes,
    a 32× payload difference that decides whether a 10¹²-vector probe fits
    memory) enter the plan again only at the output-sized refine join."""
    import re

    from prclz_spark.operators.ann import ivf_pq_topk

    e = spark.createDataFrame(
        [(i, [float((i * j) % 11) - 5.0 for j in range(16)]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "qid")
    out = ivf_pq_topk(
        q, e, "qid", "vec_id", "embedding", dim=16, k=3, n_lists=4, n_probe=2, m=4
    )
    ex = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = re.split(r"\n(?=\(\d+\) )", ex)
    # every exchange whose output carries the corpus list_id+code payload
    # must NOT also carry the corpus vector column (_cv); _cv may cross an
    # exchange only on the refine side (joined by _cid after the shortlist)
    code_exchanges = [
        n for n in nodes
        if "Exchange" in n.split("\n")[0] and "pq_code" in n
    ]
    assert code_exchanges, f"expected code-carrying exchanges:\n{ex}"
    for n in code_exchanges:
        assert "_cv" not in n, f"corpus vectors ride the probe exchange:\n{n}"
