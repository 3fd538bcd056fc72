"""Text source (S2/S4), multimodal plumbing, and the governed UDF
surface (D1-D8)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conversation_with_vector_db_spark import fixtures
from conversation_with_vector_db_spark.functions.registry import (
    classify_write_statement,
    compile_definition,
    sql_passthrough,
)
from conversation_with_vector_db_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    media_table_from_documents,
)
from conversation_with_vector_db_spark.session import load_tables
from conversation_with_vector_db_spark.sources.parquet_io import (
    read_text_documents,
)


def test_read_text_documents(spark, tmp_path):
    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.txt").write_text("hello spark engine")
    (p / "b.txt").write_text("second document\nwith two lines")
    df = read_text_documents(spark, str(p))
    rows = {r.source_path.split("/")[-1]: r.text for r in df.collect()}
    assert rows["a.txt"] == "hello spark engine"
    assert "two lines" in rows["b.txt"]


class TestMultimodalPlumbing:
    def test_decode_requires_explicit_fake(self, spark, sf_dir):
        load_tables(spark, sf_dir)
        media = media_table_from_documents(spark.table("documents"))
        with pytest.raises(NotImplementedError):
            decode_media(media)
        with pytest.raises(NotImplementedError):
            frame_sample(media)

    def test_fake_decode_shapes(self, spark, sf_dir):
        load_tables(spark, sf_dir)
        media = media_table_from_documents(spark.table("documents"))
        decoded = decode_media(media, fake=True)
        rows = decoded.limit(20).collect()
        assert rows
        for r in rows:
            assert 16 <= r.width < 80 and 16 <= r.height < 80
            assert len(r.features) == 8
            assert all(0.0 <= f <= 1.0 for f in r.features)
        # Determinism: same payload -> same decode.
        a = decoded.filter(F.col("media_id") == 3).first()
        b = decode_media(media, fake=True).filter(
            F.col("media_id") == 3
        ).first()
        assert a == b

    def test_frame_sample_only_videos(self, spark, sf_dir):
        load_tables(spark, sf_dir)
        media = media_table_from_documents(spark.table("documents"))
        frames = frame_sample(media, n_frames=4, fake=True)
        per_media = (
            frames.groupBy("media_id").count().select("count").distinct()
        )
        assert [r["count"] for r in per_media.collect()] == [4]
        kinds = frames.join(media, "media_id").select("kind").distinct()
        assert [r.kind for r in kinds.collect()] == ["video"]


class TestUdfGovernance:
    def test_compile_rejects_unknown(self):
        with pytest.raises(PermissionError):
            compile_definition("evil_fn", "process.exit(1)")

    def test_compile_resolves_whitelisted(self):
        fn = compile_definition("surrogate_token_count")
        assert fn("hello, world") == 3

    def test_sql_passthrough_select_only(self, spark, sf_dir):
        load_tables(spark, sf_dir)
        fixtures.register_derived_views(spark)
        assert sql_passthrough(spark, "SELECT 1 AS x").first().x == 1
        # CTEs and parenthesized SELECTs are pure reads too.
        assert (
            sql_passthrough(
                spark, "WITH t AS (SELECT 2 AS x) SELECT x FROM t"
            ).first().x == 2
        )
        assert sql_passthrough(spark, "(SELECT 3 AS x)").first().x == 3
        for bad in (
            "DROP TABLE prompts",
            "INSERT INTO prompts VALUES (1)",
            "UPDATE prompts SET tokenused = 0",
            # CTE-prefixed DML starts with WITH and passes any prefix
            # regex — Spark's grammar allows it, so the gate must
            # reject at the PARSED-TREE level, not the string level.
            "WITH x AS (SELECT 1 AS a) "
            "INSERT OVERWRITE DIRECTORY '/tmp/pwn' SELECT a FROM x",
            "WITH x AS (SELECT 1 AS a) INSERT INTO prompts SELECT a",
        ):
            with pytest.raises(ValueError):
                sql_passthrough(spark, bad)

    def test_classify_write_statements(self):
        assert classify_write_statement(
            "INSERT INTO usage_t (a) VALUES (1)"
        ) == ("insert", "usage_t")
        assert classify_write_statement(
            "UPDATE prompts SET tokenused = 0 WHERE 1=1"
        ) == ("update", "prompts")
        assert classify_write_statement(
            "DELETE FROM favorites WHERE fav_id = 1"
        ) == ("delete", "favorites")
        # Qualified names dispatch on the TABLE component, not the db.
        assert classify_write_statement(
            "INSERT INTO analytics.prompts VALUES (1)"
        ) == ("insert", "prompts")
        assert classify_write_statement(
            "UPDATE db.favorites SET x = 0"
        ) == ("update", "favorites")
        with pytest.raises(ValueError):
            classify_write_statement("TRUNCATE TABLE prompts")


def test_signature_expr_and_udf_paths_agree(spark, sf_dir):
    """_signature_bits (the expression reference form) and
    _signature_udf (the live Arrow-batched path) must produce the same
    sign bits — the bit-identical claim both docstrings make, pinned
    instead of asserted in comments. Also: null embeddings yield a
    null signature, not a stage crash."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.ann import (
        _signature_bits,
        _signature_udf,
        hyperplane_planes,
    )
    from conversation_with_vector_db_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].limit(40)
    planes = hyperplane_planes(n_bits=12, dim=64)
    expr_sig = F.concat(
        *[
            b.cast("string")
            for b in _signature_bits("embedding", planes)
        ]
    )
    udf_sig = _signature_udf(planes)(F.col("embedding"))
    rows = emb.select(
        "vec_id", expr_sig.alias("e"), udf_sig.alias("u")
    ).collect()
    assert rows and all(r["e"] == r["u"] for r in rows)

    withnull = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, F.col("embedding")).alias(
            "embedding"
        ),
    )
    # Null rows must agree across forms too: a NULL signature on BOTH
    # (an otherwise(0) in the expression form would emit an all-zero
    # key that spurious-matches real all-zero-band vectors).
    out = withnull.select(
        "vec_id",
        expr_sig.alias("e"),
        _signature_udf(planes)(F.col("embedding")).alias("s"),
    ).collect()
    assert all(r["e"] == r["s"] for r in out)
    assert all(
        (r["s"] is None) == (r["vec_id"] % 2 != 0) for r in out
    )


def test_snapshot_diff_all_four_statuses_live(spark, sf_dir):
    """All four diff branches must be exercised (a vacuously-green
    branch would let a status bug ship): removed = the %97 slice of
    v1, changed = the %89-edited docs that survive removal, added =
    the plants that survive removal, and the totals partition v1."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark import plans
    from conversation_with_vector_db_spark.plans.registry import REGISTRY

    plans.load_all()
    rows = {
        r["status"]: r
        for r in REGISTRY["m9_snapshot_diff"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    docs = spark.table("documents")
    n_docs = docs.count()
    n_removed = docs.filter(F.col("doc_id") % 97 == 3).count()
    n_changed = docs.filter(
        (F.col("doc_id") % 89 == 5) & (F.col("doc_id") % 97 != 3)
    ).count()
    assert rows["removed"]["n_docs"] == n_removed
    assert rows["changed"]["n_docs"] == n_changed
    assert (
        rows["unchanged"]["n_docs"] == n_docs - n_removed - n_changed
    )
    n_plants = spark.table("corpus").count() - n_docs
    n_plants_removed = (
        spark.table("corpus")
        .filter(
            (F.col("doc_id") >= 500000000) & (F.col("doc_id") % 97 == 3)
        )
        .count()
    )
    assert rows["added"]["n_docs"] == n_plants - n_plants_removed


def test_chunk_udtf_matches_declarative_chunker_and_null_edge(spark):
    """The governed UDTF (functions/registry.UDTF_WHITELIST) is the
    same operator as the declarative chunk_fixed plan, including the
    empty/NULL-text one-empty-chunk contract."""
    from conversation_with_vector_db_spark.functions.registry import (
        register_udtfs,
    )
    from conversation_with_vector_db_spark.plans.text_pipeline import (
        chunk_fixed,
    )

    assert "chunk_udtf" in register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "a" * 25), (2, ""), (3, None)], "doc_id: long, text: string"
    )
    df.createOrReplaceTempView("_udtf_docs")
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk"], r["n_chars"])
        for r in spark.sql(
            """
            SELECT d.doc_id, c.chunk_id, c.chunk, c.n_chars
            FROM _udtf_docs d, LATERAL chunk_udtf(d.text, 10) c
            """
        ).collect()
    )
    declarative = sorted(
        (r["doc_id"], r["chunk_id"], r["text"], r["n_chars"])
        for r in chunk_fixed(
            df.withColumn("text", F.coalesce("text", F.lit(""))),
            size=10,
        ).collect()
    )
    assert got == declarative
    assert (2, 0, "", 0) in got and (3, 0, "", 0) in got


def test_chunk_udtf_rejects_non_positive_size(spark):
    """ADVICE r8: size < 1 has no chunking meaning — a named
    ValueError, never a ZeroDivisionError or negative-slice output."""
    import pytest

    from conversation_with_vector_db_spark.functions.registry import (
        register_udtfs,
    )

    register_udtfs(spark)
    for bad in (0, -3):
        with pytest.raises(Exception, match="size must be >= 1"):
            spark.sql(
                f"SELECT * FROM chunk_udtf('abcdef', {bad})"
            ).collect()


def test_variant_json_extraction_contract_is_cross_engine_exact(spark):
    """r11 probe on the c23 JSON path: variant_get(..., 'int')
    TRUNCATES a non-integer k toward zero while the oracle's
    CAST(text AS INT) ROUNDS (2.7 -> 2 vs 3) — silent value
    divergence on any corpus whose k isn't integral. Both sides now
    extract as DOUBLE and floor() explicitly; this pin runs the exact
    expressions from plan and oracle over hostile payloads (floats,
    negative floats, quoted numbers, missing/wrong-case keys) and
    demands identical values. Duplicate-key JSON is pinned as the
    LOUD divergence it is: Spark's VARIANT parser raises per spec,
    DuckDB leniently extracts the first key."""
    import duckdb
    import pytest

    from pyspark.sql import functions as F

    payloads = [
        '{"k": 7}',
        '{"k": 2.7}',
        '{"k": -2.7}',
        '{"k": "9"}',
        '{"K": 5}',
        '{"other": 1}',
        None,
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "props string")
    got = [
        r["k"]
        for r in df.select(
            F.floor(
                F.variant_get(F.parse_json("props"), "$.k", "double")
            ).cast("int").alias("k")
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT CAST(floor(CAST(json_extract_string(?, '$.k')"
            " AS DOUBLE)) AS INT)",
            [p],
        ).fetchone()[0]
        for p in payloads
    ]
    assert got == want == [7, 2, -3, 9, None, None, None]

    dup = spark.createDataFrame([('{"k":1,"k":2}',)], "props string")
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        dup.select(
            F.variant_get(F.parse_json("props"), "$.k", "double")
        ).collect()
    assert con.execute(
        "SELECT json_extract_string(?, '$.k')", ['{"k":1,"k":2}']
    ).fetchone()[0] == "1"  # the documented oracle leniency


def test_tokenizer_three_forms_agree_on_hostile_whitespace(spark):
    """r11: the D1 surrogate token counter (Python UDF), the t11
    declarative form (Java regex), and the RE2 oracles must share ONE
    tokenizer definition. Python's \\s is UNICODE (absorbs NBSP and
    \\x0B) while the oracle's RE2 \\s is ASCII, so the UDF under-
    counted marker characters the other two forms count — fixed by
    spelling out the shared class [^a-z0-9\\t\\n\\f\\r ]. Hostile
    bytes: \\x0B and NBSP are TOKENS under the shared ASCII contract
    (neither is in the class), plain whitespace is not."""
    import duckdb

    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.functions.registry import (
        _surrogate_token_count,
    )

    hostile = [
        "a b,c",          # 4: a, b, ',', c
        "a\x0bb",         # 3: a, \x0B token, b
        "a\xa0b",         # 3: NBSP is a token char on all three now
        "tab\tand space", # 3 words
        "",               # 0
    ]
    py = [_surrogate_token_count(t) for t in hostile]
    jv = [
        r["n"]
        for r in spark.createDataFrame([(t,) for t in hostile], "t string")
        .select(
            F.size(
                F.regexp_extract_all(
                    F.lower("t"),
                    F.lit(r"[a-z0-9]+|[^a-z0-9\t\n\f\r ]"),
                    0,
                )
            ).alias("n")
        )
        .collect()
    ]
    con = duckdb.connect()
    re2 = [
        con.execute(
            "SELECT length(regexp_extract_all(lower(?),"
            " '[a-z0-9]+|[^a-z0-9\\t\\n\\f\\r ]'))",
            [t],
        ).fetchone()[0]
        for t in hostile
    ]
    assert py == jv == re2 == [4, 3, 3, 3, 0]


def test_rounded_negative_zero_is_cross_engine_exact(spark, sf_dir):
    """r11 probe on presentation rounding: Spark's F.round goes
    through BigDecimal, which has no negative zero, so round(-1e-13,
    4) is +0.0 — DuckDB's round PRESERVES the sign bit and yields
    -0.0. Locally rows_match's float tolerance hides it, but the
    driver's value-hash gate need not treat -0.0 == 0.0, so any
    unthresholded rounded column whose value can be negative-tiny
    (cosine sims over near-orthogonal pairs, z-scores) was one
    hostile fixture away from a silent hash mismatch. Every
    sign-possible oracle round site now appends ``+ 0`` (IEEE:
    -0.0 + 0.0 = +0.0, exact identity for every other value,
    NaN/inf included), matching F.round by construction. pandas
    ``.round`` is wrong on BOTH axes (half-even on the binary value
    AND -0.0-preserving), which is why d_grouped_udaf_zscore rounds
    JVM-side after the UDF, per operators/vector.py's discipline."""
    import math

    import duckdb
    import pandas as pd

    hostile = [-1e-13, -0.0, 0.0, 2.675, -2.675, 0.12345, -123.45675,
               float("inf"), float("-inf")]

    def key(x):
        # repr-level equality: distinguishes -0.0 from 0.0
        return (repr(x), math.copysign(1.0, x))

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(hostile)], "i int, v double"
    )
    got = {
        r["i"]: key(r["r"])
        for r in df.select("i", F.round("v", 4).alias("r")).collect()
    }
    con = duckdb.connect()
    want = {
        i: key(
            con.execute(
                "SELECT round(?::DOUBLE, 4) + 0", [v]
            ).fetchone()[0]
        )
        for i, v in enumerate(hostile)
    }
    assert got == want
    # motive: WITHOUT + 0 DuckDB emits -0.0 where Spark emits +0.0
    raw = con.execute("SELECT round(-1e-13::DOUBLE, 4)").fetchone()[0]
    assert math.copysign(1.0, raw) == -1.0
    assert math.copysign(1.0, got[0][1]) == 1.0
    # motive: pandas rounds half-even on the binary value AND keeps
    # -0.0 — diverges from the engines on both axes
    pz = pd.Series([0.12345, -1e-13]).round(4)
    assert pz[0] == 0.1234  # engines: 0.1235 (shortest-repr half-up)
    assert math.copysign(1.0, pz[1]) == -1.0

    # End-to-end through the REGISTERED zscore query: one event sits
    # a hair BELOW its group mean (z ~ -6.7e-10 -> rounds to zero),
    # so the unfixed pairing would hash-diverge on -0.0 vs 0.0.
    from conversation_with_vector_db_spark.plans import (
        load_all,
        registry,
    )

    load_all()
    rows = [
        (1, 0, 1_000_000, "msg", 0.0, None),
        (2, 0, 2_000_000, "msg", 2.0, None),
        (3, 0, 3_000_000, "msg", 1.0 - 1e-9, None),
    ]
    schema = (
        "event_id long, user_id long, _us long, event_type string,"
        " value double, props string"
    )
    try:
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id",
            "timestamp_micros(_us) AS ts",
            "user_id",
            "event_type",
            "value",
            "props",
        ).createOrReplaceTempView("events")
        q = registry.REGISTRY["d_grouped_udaf_zscore"]
        got_rows = {
            r["event_id"]: key(r["z"])
            for r in q.fn.__wrapped__(spark, sf_dir).collect()
        }
        con.execute(
            "CREATE TABLE events (event_id BIGINT, user_id BIGINT,"
            " value DOUBLE)"
        )
        con.executemany(
            "INSERT INTO events VALUES (?, ?, ?)",
            [(e, u, v) for (e, u, _t, _ty, v, _p) in rows],
        )
        want_rows = {
            r[0]: key(r[2])
            for r in con.execute(q.oracle_sql).fetchall()
        }
        assert got_rows == want_rows
        # the engineered near-mean event really exercised the branch
        assert got_rows[3] == ("0.0", 1.0)
    finally:
        try:
            spark.conf.unset("spark.cvdb.registered.sfdir")
        except Exception:
            pass
        load_tables(spark, sf_dir, ("events",))
