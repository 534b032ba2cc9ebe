"""Registry-wide driver-contract guards.

Two hazard classes the per-query differential CANNOT catch locally:

1. Version-sensitive oracle constructs (a driver-red class): local
   DuckDB accepts them, the driver's engine/data disagrees. Guarded by
   tools/oraclelint.py, run here so a new query can't merge dirty.
2. Complex-typed output columns (the ``array_hof_surface`` red):
   the driver's pandas canonicalizer mangles array/map/struct cells, so
   every registry query must serialize them to scalars (joined strings
   / JSON) before returning. Guarded by walking every query's SCHEMA
   (plan-only where possible) at sf0.001.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_oracle_lint_clean():
    from tools.oraclelint import lint_oracles

    problems = lint_oracles()
    assert not problems, "\n".join(problems)


def test_whitespace_tokenization_contract(spark, tmp_path):
    """A driver-red mechanism, reproduced and guarded: Java `\\s`
    includes \\x0B, DuckDB RE2 `\\s` does not, so documents containing
    edge whitespace tokenized differently per engine. The explicit
    WS_RE class must agree byte-for-byte on data the testdata corpus
    cannot provide (it contains only plain spaces)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from emma_spark.llm.text import tokens
    from emma_spark.workloads.text import SQL_TOKS

    docs = [
        (0, "plain space tokens"),
        (1, "vertical\x0btab and form\x0cfeed"),
        (2, "tab\tnewline\ncarriage\rreturn"),
        (3, "nbsp stays line sep ideographic　space"),
        (4, "NEL\x85char and​zwsp"),
        (5, "  leading trailing  "),
        (6, "mixed \x0b\t\n all together"),
        # the case-fold contract: Java toLowerCase maps İ→i+combining
        # dot and applies Greek final-sigma context; DuckDB does not —
        # ascii_lower/translate must agree where lower() cannot
        (7, "İstanbul DOTTED İ"),
        (8, "ΣΙΣΥΦΟΣ greek FINAL sigma"),
        (9, "MIXED Case ASCII Words"),
    ]
    path = str(tmp_path / "ws_docs.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]}
        ),
        path,
    )
    df = spark.read.parquet(path)
    got = {
        r["doc_id"]: list(r["toks"])
        for r in df.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).collect()
    }
    want = dict(
        duckdb.connect()
        .execute(
            f"SELECT doc_id, {SQL_TOKS} FROM read_parquet('{path}')"
            " ORDER BY doc_id"
        )
        .fetchall()
    )
    for k, toks in got.items():
        assert toks == list(want[k]), (k, toks, want[k])


def test_text_contract_unicode_fuzz(spark, tmp_path):
    """Randomized differential over the WHOLE text contract — 400
    fixed-seed documents drawn from an alphabet of contested
    characters (ASCII + the \\s-divergent controls + Unicode spaces +
    case-exotic letters + CJK/Cyrillic/Greek + astral emoji), compared
    field-by-field between Spark and DuckDB: tokens, token_count,
    fingerprint, char 3-grams, BPE-ish tokens. This fuzz found the
    1-arg trim() divergence (DuckDB strips U+1680/U+00A0/U+3000,
    Spark does not) that the fixed-case tests missed."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from emma_spark.llm.text import (
        bpe_ish_tokens,
        char_ngrams,
        fingerprint,
        sql_ascii_lower,
        token_count,
        tokens,
    )
    from emma_spark.workloads.text import (
        _FP_NORM,
        SQL_BPE_TOKS,
        SQL_TOKS,
        sql_md5_long,
    )

    rng = random.Random(20260814)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        " \t\n\x0b\x0c\r"
        "\xa0    ​　"
        "İıΣσςßẞÅåÉéŁł"
        "'\".,;:!?-_#()[]{}@/\\|"
        "日本語中文한국어"
        "αβγдружба"
        "\U0001f600\U0001f389"
    )
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60))))
        for i in range(400)
    ]
    path = str(tmp_path / "fuzz.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]}
        ),
        path,
    )
    df = spark.read.parquet(path)
    sp = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            tokens(F.col("text")).alias("toks"),
            token_count(F.col("text")).alias("n"),
            fingerprint(F.col("text")).alias("fp"),
            char_ngrams(F.col("text"), n=3).alias("g3"),
            bpe_ish_tokens(F.col("text")).alias("bpe"),
        ).collect()
    }
    lo = sql_ascii_lower("text")
    g3_sql = (
        f"CASE WHEN len({lo}) >= 3 THEN list_transform("
        f"generate_series(1, len({lo}) - 2), i -> substr({lo}, i, 3))"
        " ELSE [] END"
    )
    rows = duckdb.connect().execute(
        f"""
        SELECT doc_id, {SQL_TOKS} AS toks, len({SQL_TOKS}) AS n,
               {sql_md5_long(_FP_NORM)} AS fp, {g3_sql} AS g3,
               {SQL_BPE_TOKS} AS bpe
        FROM read_parquet('{path}') ORDER BY doc_id
        """
    ).fetchall()
    for doc_id, dtoks, dn, dfp, dg3, dbpe in rows:
        s = sp[doc_id]
        assert list(s["toks"]) == list(dtoks), (doc_id, "toks")
        assert s["n"] == dn, (doc_id, "n")
        assert s["fp"] == dfp, (doc_id, "fp", docs[doc_id][1])
        assert list(s["g3"]) == list(dg3), (doc_id, "g3")
        assert list(s["bpe"]) == list(dbpe), (doc_id, "bpe")


def test_json_numeric_grammar_fuzz(spark, tmp_path):
    """Adversarial differential for the JSON numeric-coercion contract
    (the ``udtf_expand_props`` driver-red class): props values
    spanning ±2^70 ints, floats, int/float/exp strings with ASCII and
    UNICODE whitespace, '9_0'/'0x10'/inf/nan, bools, nulls, nested
    objects/arrays — and keys containing dots, spaces, quotes, and
    non-ASCII. Both the UDTF expansion and the variant surface must
    match their oracles exactly (the int32-range clamp keeps every
    engine's sum finite)."""
    import json
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from emma_spark.workloads import load_all

    rng = random.Random(99)
    pool = [
        69, -3, 0, 2**40, 2**63 - 1, -(2**63), 2**70,
        69.5, -2.7, 0.5, 1e20, 1e-9, 123.456,
        "9", "+9", "-9", " 9 ", "\t9\n", "9\xa0", "\xa09", "9.5",
        " 9.5 ", "1e3", "1E3", "inf", "-inf", "nan", "9_0", "0x10",
        ".5", "5.", "", "abc", "9a", True, False, None, [1, 2], {"x": 1},
    ]
    keys = ["k", "a.b", "with space", 'q"z', "längé", "k2"]
    rows = []
    for i in range(200):
        props = {}
        for j in range(rng.randint(1, 4)):
            key = rng.choice(keys)
            if key in props:
                key = key + str(j)
            props[key] = pool[rng.randint(0, len(pool) - 1)]
        # id divisible by both 101 (udtf filter) and 13 (variant filter)
        rows.append((i * 1313, "click", 0, 0.0, props))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "props": [json.dumps(r[4]) for r in rows],
            }
        ),
        str(sf / "events.parquet"),
    )
    qs = load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    for name in ("udtf_expand_props", "variant_ops_surface"):
        sdf = qs[name].fn(spark, str(sf))
        srows = sorted(tuple(str(x) for x in r) for r in sdf.collect())
        drows = sorted(
            tuple(str(x) for x in r)
            for r in con.execute(qs[name].oracle).fetchall()
        )
        assert srows == drows, (
            name,
            [r for r in srows if r not in drows][:4],
            [r for r in drows if r not in srows][:4],
        )


def test_output_type_identity(registry_builds):
    """Every oracle output column's DuckDB type must land in the SAME
    pandas dtype family as the Spark column — the HUGEINT driver-red class.

    The predecessor test read the DBAPI cursor ``description``, which
    reports the generic ``'NUMBER'`` for every numeric type, so its
    ``ds in ("HUGEINT", ...)`` check could never fire: 35 HUGEINT
    oracles (DuckDB silently promotes ``sum(BIGINT)`` and window sums)
    sailed through, and each one the driver checked redded — HUGEINT
    arrives via ``fetchdf()`` as float64 (``124750.0``) while Spark
    delivers int64 (``124750``), a hash mismatch at ANY magnitude.
    Only ``DESCRIBE SELECT * FROM (...)`` sees the real types; the
    walk also bans complex types (LIST/STRUCT/MAP) on BOTH sides and
    float-vs-int family disagreements like DOUBLE-vs-bigint."""
    from tools.typecheck import connect_views, scan_all

    schemas = {name: b.schema for name, b in registry_builds.items()}
    problems = scan_all(connect_views(SF_DIR), schemas)
    assert not problems, "\n".join(problems)


def test_diffcheck_catches_hugeint_oracle(spark):
    """Regression for the HUGEINT red class: the local comparator must FAIL
    a query whose oracle column is HUGEINT even when every value is
    numerically identical — ``fetchall()``-based comparison could not
    see it (HUGEINT -> Python int) and called 14 driver reds green
    locally, twice. ``compare_one`` fetches via ``fetchdf()`` and
    asserts type identity, so this deliberately-uncast oracle must
    fail BOTH the type gate and (float64 '124750.0' vs int64
    '124750') the value hash."""
    import duckdb

    from tools.diffcheck import compare_one

    con = duckdb.connect()

    def spark_fn(s, _sf):
        return s.range(500).selectExpr("sum(id) AS total")

    bad_oracle = "SELECT sum(x) AS total FROM range(500) t(x)"  # HUGEINT
    good_oracle = "SELECT CAST(sum(x) AS BIGINT) AS total FROM range(500) t(x)"
    status, detail = compare_one(spark, con, "hug", spark_fn, bad_oracle, SF_DIR)
    assert status == "fail" and "HUGEINT" in detail, (status, detail)
    status, detail = compare_one(spark, con, "ok", spark_fn, good_oracle, SF_DIR)
    assert status == "ok", (status, detail)


def test_no_complex_output_columns(registry_builds):
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad: list[str] = []
    errs: list[str] = []
    for name, b in registry_builds.items():
        if isinstance(b.schema, Exception):
            errs.append(f"{name}: {b.schema!r}"[:200])
            continue
        for f in b.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not errs, "\n".join(errs)
    assert not bad, (
        "complex-typed output columns break the driver canonicalizer "
        "(serialize to strings/JSON on both engines):\n" + "\n".join(bad)
    )


def test_build_jobs_do_not_rise(registry_builds):
    """No registry query may open more Spark jobs while it is built than
    ``tests/build_jobs.json`` records, and every query must be listed
    there. Jobs named ``parquet at …`` are not counted, because their
    number depends on process history: schema-inference reads (a path
    the process read before opens none) and parquet staging writes (a
    staged dir that already exists needs none). When counts fall or
    queries are added, regenerate the file with
    ``python tools/buildjobs.py``."""
    import json

    from tools.buildjobs import CENSUS
    from tools.buildjobs import SF_DIR as CENSUS_SF

    if SF_DIR != CENSUS_SF:
        pytest.skip(f"the census is taken at {CENSUS_SF}")
    want = json.loads(CENSUS.read_text())
    missing = sorted(set(registry_builds) - set(want))
    risen = [
        f"{name}: {b.jobs} jobs, census {want[name]}"
        for name, b in sorted(registry_builds.items())
        if name in want and b.jobs > want[name]
    ]
    assert not missing and not risen, (
        f"missing from {CENSUS.name}: {missing}\nbuild jobs rose:\n"
        + "\n".join(risen)
    )


@pytest.mark.parametrize("second", [3, 2], ids=["agree", "disagree"])
def test_build_job_census_needs_two_agreeing_sweeps(
    tmp_path, monkeypatch, capsys, second
):
    """``tools/buildjobs.py`` writes the census only when two sweeps
    count the same jobs for every query; when one query moves it names
    the query with both counts, exits nonzero and leaves the file as it
    was. Spark-free: the sweep is stubbed."""
    import json

    from tools import buildjobs

    sweeps = iter([
        {"q_stable": buildjobs.Build(None, 1), "q_moving": buildjobs.Build(None, n)}
        for n in (3, second)
    ])
    monkeypatch.setattr(buildjobs, "build_all", lambda spark, sf_dir: next(sweeps))
    path = tmp_path / "build_jobs.json"
    path.write_text("untouched\n")
    status = buildjobs.census(None, path)
    out = capsys.readouterr().out
    if second == 3:
        assert status == 0
        assert json.loads(path.read_text()) == {"q_moving": 3, "q_stable": 1}
    else:
        assert status != 0
        assert path.read_text() == "untouched\n"
        assert "q_moving: 3 then 2 jobs" in out and "q_stable" not in out


def test_qsum_beyond_long_ceiling(spark):
    """The split-sum contract: a global total whose quantized sum
    exceeds 2^63 units (the old LONG path's ANSI-raise ceiling — the
    bound a 100 TB global revenue total actually crosses) sums
    exactly and matches DuckDB's HUGEINT mirror bit-for-bit. Negative
    mixes exercise the arithmetic-shift split for signed values."""
    import duckdb
    from pyspark.sql import functions as F

    from emma_spark.workloads import qsum, qsum_sql

    # 2000 rows of ~9e14 -> quantized total ~1.8e22 units >> 2^63
    big = spark.range(2000).select((F.lit(9.0e14) + F.col("id")).alias("x"))
    got = big.agg(qsum(F.col("x")).alias("t")).collect()[0]["t"]
    want = duckdb.sql(
        "SELECT " + qsum_sql("x") + " AS t FROM (SELECT 9.0e14 +"
        " CAST(range AS DOUBLE) AS x FROM range(2000))"
    ).fetchone()[0]
    assert got == want, (got, want)

    neg = spark.createDataFrame(
        [(-9.0e14,), (123.4567,), (-0.0001,), (9.0e14,), (-7.25,)],
        "x double",
    )
    gn = neg.agg(qsum(F.col("x")).alias("t")).collect()[0]["t"]
    wn = duckdb.sql(
        "SELECT " + qsum_sql("x") + " AS t FROM (VALUES (-9.0e14),"
        " (123.4567), (-0.0001), (9.0e14), (-7.25)) v(x)"
    ).fetchone()[0]
    assert gn == wn, (gn, wn)


def test_qsum_decimal_input_pins_long_path(spark):
    """A DECIMAL input column must quantize
    through the DOUBLE cast, not decimal arithmetic (where Spark's
    division ROUNDS HALF_UP at the result scale). qsum over the same
    values as DECIMAL and as DOUBLE must agree, and both must match
    the DuckDB mirror."""
    import duckdb
    from pyspark.sql import functions as F

    from emma_spark.workloads import qsum, qsum_sql

    vals = ["123.4567", "-0.0001", "99999999.99", "-7.25", "0.00005"]
    dec = spark.createDataFrame([(v,) for v in vals], "s string").select(
        F.col("s").cast("decimal(20,5)").alias("x")
    )
    dbl = spark.createDataFrame([(float(v),) for v in vals], "x double")
    g_dec = dec.agg(qsum(F.col("x")).alias("t")).collect()[0]["t"]
    g_dbl = dbl.agg(qsum(F.col("x")).alias("t")).collect()[0]["t"]
    want = duckdb.sql(
        "SELECT " + qsum_sql("CAST(x AS DOUBLE)") + " AS t FROM (VALUES "
        + ", ".join(f"({v})" for v in vals) + ") v(x)"
    ).fetchone()[0]
    assert g_dec == g_dbl == want, (g_dec, g_dbl, want)


# quantized values on each side of the exact-sum split's 20/40-bit
# field boundaries, and the double-exact quantization limit
_SPLIT_EDGES = [0, 1, 2**20 - 1, 2**20, 2**40 - 1, 2**40, 2**53]
_SPLIT_VALUES = sorted({sign * v for v in _SPLIT_EDGES for sign in (1, -1)})


def _float_key(x):
    """Bit-exact comparison key for a DOUBLE result (NaN and -0.0
    included)."""
    import math
    import struct

    if x is None or math.isnan(x):
        return repr(x)
    return struct.pack(">d", x)


def test_qsum_split_boundaries_match_duckdb(spark, tmp_path):
    """qsum equals its DuckDB mirror bit-for-bit per group: each split
    boundary value alone, all of them together, and groups holding
    NaN, ±inf, NULL and -0.0 (with dp=0 the quantized value is the
    input)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from emma_spark.workloads import qsum, qsum_sql

    rows = [(f"v{v}", float(v)) for v in _SPLIT_VALUES]
    rows += [("all", float(v)) for v in _SPLIT_VALUES]
    rows += [
        ("nan", float("nan")), ("nan", 1.0),
        ("inf", float("inf")), ("inf", -(2.0**40)),
        ("-inf", float("-inf")), ("-inf", 2.0**53),
        ("inf-inf", float("inf")), ("inf-inf", float("-inf")),
        ("null", None), ("null+1", None), ("null+1", -1.0),
        ("-0", -0.0), ("-0", -0.0),
    ]
    p = str(tmp_path / "split.parquet")
    pq.write_table(
        pa.table({"g": [g for g, _ in rows], "x": pa.array([x for _, x in rows], pa.float64())}),
        p,
    )
    got = {
        r["g"]: _float_key(r["t"])
        for r in spark.read.parquet(p).groupBy("g").agg(qsum(F.col("x"), 0).alias("t")).collect()
    }
    want = {
        g: _float_key(t)
        for g, t in duckdb.sql(
            f"SELECT g, {qsum_sql('x', 0)} AS t FROM read_parquet('{p}') GROUP BY g"
        ).fetchall()
    }
    assert len(got) == 21
    assert got == want, {g for g in got if got[g] != want.get(g)}


def test_sum_long_exact_split_boundaries(spark):
    """sum_long_exact is Python's exact integer sum on every split
    boundary value, per value and in total, over BIGINT and over INT
    input (an INT must be widened before the shifts)."""
    from pyspark.sql import functions as F

    from emma_spark.workloads import sum_long_exact

    def sums(values, typ):
        rows = [(str(v), v) for v in values] + [("all", v) for v in values]
        rows += [("null", None), ("null", None)]
        df = spark.createDataFrame(rows, f"g string, v {typ}")
        return {
            r["g"]: r["s"]
            for r in df.groupBy("g").agg(sum_long_exact(F.col("v")).alias("s")).collect()
        }

    def exact(values):
        want = {str(v): v for v in values}
        want.update(all=sum(values), null=None)
        return want

    big = _SPLIT_VALUES + [2**63 - 1, -(2**63)]
    assert sums(big, "bigint") == exact(big)
    ints = [v for v in _SPLIT_VALUES if -(2**31) <= v < 2**31]
    ints += [-1000000, 2**31 - 1, -(2**31)]
    assert sums(ints, "int") == exact(ints)


def test_mta_linear_credit_null_tid_tie_break(spark, tmp_path):
    """A real touch row with NULL event_id tying
    on tt must take the SAME row_number on both engines (Spark ASC
    defaults NULLS FIRST, DuckDB NULLS LAST — both now pin NULLS
    LAST), so the largest-remainder +1 cent lands on the same
    event_type. The conversion value 4 over 3 touches forces a
    remainder of 1: ONLY rank 1 banks the extra cent, so the NULL-vs-
    non-NULL order of the tied pair decides whether 'click' or 'view'
    gets it — an unpinned tie-break diverges here (remainder 2 would
    hide it: both tied rows sit inside the boundary either way).
    Additionally asserts the pinned outcome literally (view banks the
    remainder), so BOTH engines moving together to NULLS FIRST would
    still fail."""
    import datetime

    import duckdb

    from emma_spark.workloads import load_all

    qs = load_all()
    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # (event_id, user_id, event_type, ts, value)  ts tie at t0
        (None, 7, "click", t0, 0.0),
        (2, 7, "view", t0, 0.0),
        (3, 7, "click", t0 + datetime.timedelta(minutes=5), 0.0),
        (9, 7, "purchase", t0 + datetime.timedelta(hours=1), 0.04),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "ts timestamp, value double"
    ).write.parquet(f"{sf}/events.parquet")
    got = {
        (r["event_type"]): (r["n_credits"], r["credit_c"])
        for r in qs["events_mta_linear_credit"].fn(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            qs["events_mta_linear_credit"].oracle).fetchall()
    }
    assert got == want, (got, want)
    # books closed: total credited cents == converted cents (4)
    assert sum(v[1] for v in got.values()) == 4
    # the pinned semantics, literally: NULLS LAST puts view (tid=2)
    # at rank 1 ahead of the NULL-tid click, so view banks 1+1 cents
    assert got["view"] == (1, 2), got
    assert got["click"] == (2, 2), got
