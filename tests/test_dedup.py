"""MinHash-LSH / SimHash dedup tests against planted near-dups and
exact-Jaccard ground truth (FIXTURES.md: rows-only driver check, so
recall/precision lives here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark.operators import dedup, llm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """Copy the sf0.001 documents and plant near-duplicates: 10 docs
    duplicated with one token changed (high Jaccard), plus 5 exact
    copies. Returns (dir, expected_pairs)."""
    out = tmp_path_factory.mktemp("planted")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = docs.orderBy("doc_id").limit(200).collect()
    base = max(r.doc_id for r in rows) + 1
    extra, edit_pairs, exact_pairs = [], set(), set()
    for i, r in enumerate(rows[:10]):
        toks = r.text.split()
        toks[len(toks) // 2] = "plantedtoken"
        extra.append((base + i, " ".join(toks), r.lang, r.source, r.n_chars))
        edit_pairs.add((r.doc_id, base + i))
    for i, r in enumerate(rows[10:15]):
        extra.append((base + 100 + i, r.text, r.lang, r.source, r.n_chars))
        exact_pairs.add((r.doc_id, base + 100 + i))
    all_rows = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in rows] + extra
    spark.createDataFrame(
        all_rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return str(out), edit_pairs, exact_pairs


def _exact_pairs(spark, sf_dir, threshold):
    """Ground truth: exact shingle-Jaccard over ALL pairs."""
    sh = dedup._shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("shingle"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("shingle"))
    shared = (
        a.join(b, ["shingle"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("sh"))
    )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    j = shared.join(na, "a_id").join(nb, "b_id").select(
        "a_id", "b_id", (F.col("sh") / (F.col("na") + F.col("nb") - F.col("sh"))).alias("j")
    )
    return {(r.a_id, r.b_id) for r in j.filter(F.col("j") >= threshold).collect()}


def test_minhash_finds_planted_dups(spark, planted):
    sf_dir, edit_pairs, exact_pairs = planted
    found = {(r.a_id, r.b_id) for r in dedup.dedup_minhash(spark, sf_dir).collect()}
    missed = (edit_pairs | exact_pairs) - found
    assert not missed, f"missed planted pairs: {missed}"


def test_minhash_matches_exact_jaccard(spark, planted):
    sf_dir, _, _ = planted
    found = {(r.a_id, r.b_id) for r in dedup.dedup_minhash(spark, sf_dir).collect()}
    truth = _exact_pairs(spark, sf_dir, dedup.MINHASH_JACCARD_THRESHOLD)
    # precision is exact by construction (candidates are re-verified
    # with true Jaccard), so no false positives can survive
    false_pos = found - truth
    assert not false_pos, f"false positives: {false_pos}"
    recall = len(found & truth) / max(1, len(truth))
    assert recall >= 0.9, f"recall {recall}: found {len(found)} of {len(truth)}"


def test_simhash_finds_exact_copies(spark, planted):
    sf_dir, _, exact_pairs = planted
    found = {(r.a_id, r.b_id) for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    for p in exact_pairs:
        assert p in found, f"exact copy {p} not found by simhash"


def test_simhash_hamming_symmetric_bound(spark):
    rows = dedup.dedup_simhash(spark, SF).collect()
    assert all(0 <= r.hamming <= dedup.SIMHASH_MAX_HAMMING for r in rows)


def test_md5_fold_engine_equivalence(spark):
    """The md5 hex-digit fold (_md5_fold) must be bit-identical
    between Spark's conv(substring(md5,start,n),16,10) and DuckDB's
    positional fold, for both Kirsch-Mitzenmacher halves — the
    integer-hash foundation the _int LSH twins build on."""
    import duckdb
    from pyspark.sql import functions as F

    vals = ["hello", "world foo bar", "a\x1fb\x1fc", "", "x" * 500]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for start, n in ((1, 12), (13, 12), (1, 15)):
        got = [
            r.h
            for r in df.select(dedup._md5_fold(F.col("s"), start, n).alias("h"))
            .collect()
        ]
        con = duckdb.connect()
        want = [
            con.execute(
                f"SELECT {dedup._md5_fold_sql('s', start, n)} FROM (SELECT ? AS s)",
                [v],
            ).fetchone()[0]
            for v in vals
        ]
        assert got == want, (start, n)
        assert all(0 <= h < (1 << (4 * n)) for h in got)


def test_minhash_int_finds_planted_dups_and_matches_oracle(spark, tmp_path):
    """The integer-MinHash twin on a corpus planted where LSH's
    guarantees are unconditional: exact copies ALWAYS pair
    (identical signatures collide in every band) and j≈0.93
    superset near-dups are caught with miss probability ~2·10⁻⁴ per
    pair; the full pipeline (md5-fold identity, universal-hash min
    signatures, banding, candidate-scoped verify) replays exactly
    in DuckDB. (The `planted` fixture's one-token edits sit at
    j≈0.71, where 8×4 banding misses ~9% per pair BY DESIGN — that
    borderline regime is the production operator's test, not the
    twin's.)"""
    import os

    import duckdb

    rows_in = []
    for i in range(60):  # fillers: unique-token docs, no shared shingles
        rows_in.append((i, " ".join(f"g{i}q{j}" for j in range(20))))
    near_pairs, exact_pairs = set(), set()
    for k in range(15):  # strong near-dups: one appended token on 30 tokens
        base = " ".join(f"n{k}w{j}" for j in range(30))
        rows_in.append((100 + k, base))
        rows_in.append((200 + k, base + f" tail{k}"))
        near_pairs.add((100 + k, 200 + k))
    for k in range(5):  # exact copies
        txt = " ".join(f"e{k}v{j}" for j in range(25))
        rows_in.append((300 + k, txt))
        rows_in.append((400 + k, txt))
        exact_pairs.add((300 + k, 400 + k))
    d = str(tmp_path / "mh_int")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in rows_in],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = dedup.dedup_minhash_int(spark, d).collect()
    found = {(r.a_id, r.b_id) for r in rows}
    assert found == near_pairs | exact_pairs
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    want = [tuple(t) for t in con.execute(dedup._MINHASH_INT_SQL).fetchall()]
    got = [(r.a_id, r.b_id, r.jaccard) for r in rows]
    assert got == want


def test_simhash_int_finds_exact_copies_and_matches_oracle(spark, planted):
    """The md5-bit integer twin keeps SimHash's pigeonhole recall
    (exact copies: Hamming 0, always caught) AND replays bit-exact
    in DuckDB — fingerprint bits, chunk packing, band match, Hamming
    filter all verified end-to-end on the planted corpus (the driver
    pins the same thing on the fixtures)."""
    import os

    import duckdb

    sf_dir, _, exact_pairs = planted
    rows = dedup.dedup_simhash_int(spark, sf_dir).collect()
    found = {(r.a_id, r.b_id) for r in rows}
    for p in exact_pairs:
        assert p in found, f"exact copy {p} not found by simhash_int"
    assert all(0 <= r.hamming <= dedup.SIMHASH_MAX_HAMMING for r in rows)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}/*.parquet')"
    )
    want = [tuple(t) for t in con.execute(dedup._SIMHASH_INT_SQL).fetchall()]
    got = [(r.a_id, r.b_id, r.hamming) for r in rows]
    assert got == want


def test_simhash_int_plan_built_in_few_py4j_round_trips(spark):
    """Building dedup_simhash_int's plan (no job runs) stays cheap on
    the driver: its 64 per-bit sums and four 16-bit chunk folds are
    parsed SQL expressions, not ~11k node-by-node py4j calls. About
    1.1k round trips were measured cold; the bound leaves headroom."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        dedup.dedup_simhash_int(spark, SF)
    finally:
        client.send_command = send
    assert calls[0] < 2_000, calls[0]


def test_minhash_agrees_with_ngram_baseline(spark):
    """On the raw corpus, minhash (shingle jaccard ≥0.7) pairs must
    be a superset-of-threshold view consistent with the quadratic
    bigram baseline at its higher threshold."""
    mh = {(r.a_id, r.b_id) for r in dedup.dedup_minhash(spark, SF).collect()}
    ng = {(r.a_id, r.b_id) for r in llm.dedup_ngram(spark, SF).collect()}
    # bigram-jaccard ≥0.8 pairs are extremely similar → 3-shingle
    # jaccard ≥0.7 should recall nearly all of them
    if ng:
        recall = len(mh & ng) / len(ng)
        assert recall >= 0.8, (recall, len(ng), len(mh))


def test_deletion_neighborhood_finds_all_distance1_pairs(spark):
    """Property: candidates from the deletion-neighborhood equi-join
    are complete for Levenshtein <= 1 — checked against brute force
    on adversarial strings (equal length, off-by-one length, repeats)."""
    import itertools

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup as dd

    names = [
        "abcde", "abxde", "abde", "abcdef", "aabcde", "xbcde",
        "abcdx", "aaaaa", "aaaa", "aaaab", "vwxyz",
    ]
    cust = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "c_custkey long, c_name string"
    )
    cust.createOrReplaceTempView("_fuzzy_fixture")

    # run the operator's core on the fixture by monkeypatching table()
    import cs537_spring2021_p3a_mapreduce_spark.operators.dedup as dmod

    orig = dmod.table
    dmod.table = lambda s, sf, name: cust
    try:
        got = {
            (r.a_key, r.b_key)
            for r in dd.fuzzy_join_customers(spark, "ignored").collect()
        }
    finally:
        dmod.table = orig

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
        if lev(a, b) <= 1
    }
    assert got == want and len(want) > 0


def test_ppjoin_lossless_vs_bruteforce(spark):
    """The prefix-filtering theorem, tested: on a controlled corpus
    with planted near-dups and unrelated docs, dedup_ppjoin must
    produce EXACTLY the pairs a brute-force all-pairs SHINGLE-Jaccard
    >= t finds — no misses (lossless), no extras (exact verify)."""
    import itertools

    corpus = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota lambda",  # near-dup of 1
        3: "one two three four five six seven eight nine ten",
        4: "one two three four five six seven eight nine eleven",  # near-dup of 3
        5: "completely different words entirely unlike any other doc",
        6: "alpha beta gamma delta epsilon zeta eta theta iota kappa",  # exact dup of 1
    }

    def shingles(text):
        ts = text.split()
        return {"\x1f".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    sets = {k: shingles(v) for k, v in corpus.items()}
    t = dedup.PPJOIN_THRESHOLD
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 6) >= t:
            want.add((a, b))
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="ppjoin_t_")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in corpus.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = {(r.a_id, r.b_id) for r in dedup.dedup_ppjoin(spark, d).collect()}
    assert got == want and len(want) >= 3


def test_ppjoin_prefix_excludes_hot_shingles(spark):
    """The anti-skew property: the prefix keeps each doc's RAREST
    shingles, so a shingle present in every doc must appear in no
    doc's prefix when the doc has enough rarer shingles."""
    import os
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    corpus = [
        (i, "the quick brown " + " ".join(f"rare{i}_{j}" for j in range(7)))
        for i in range(10)
    ]
    d = tempfile.mkdtemp(prefix="ppjoin_hot_")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in corpus],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    posting = dedup._string_shingles(spark, d).distinct()
    freq = posting.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        posting.join(freq, "sh")
        .withColumn(
            "rk", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh"))
        )
        .join(sizes, "doc_id")
    )
    p, q = dedup.PPJOIN_T_NUM, dedup.PPJOIN_T_DEN
    prefix = ranked.where(
        F.col("rk") <= F.col("n") - F.expr(f"({p} * n + {q - 1}) DIV {q}") + F.lit(1)
    )
    hot = "the\x1fquick\x1fbrown"
    assert posting.where(F.col("sh") == hot).count() == 10  # present everywhere
    assert prefix.where(F.col("sh") == hot).count() == 0  # never in a prefix


def test_sorted_neighborhood_pairs_window_bound(spark):
    """Each record emits at most SNM_WINDOW-1 pairs, dist in
    [1, w-1], and pairs stay inside their block."""
    out = dedup.sorted_neighborhood_pairs(spark, SF).collect()
    assert out
    from collections import Counter

    per_a = Counter((r.block, r.a_id) for r in out)
    assert max(per_a.values()) <= dedup.SNM_WINDOW - 1
    assert all(1 <= r.dist < dedup.SNM_WINDOW for r in out)


def test_sorted_neighborhood_adjacent_dups_pair(spark):
    """Planted exact duplicates sort adjacently, so SNM must emit
    their pair at dist 1."""
    import os
    import tempfile

    corpus = [
        (1, "zebra yak xylophone"),
        (2, "zebra yak xylophone"),  # dup of 1, same block 'ze'
        (3, "apple banana cherry"),
    ]
    d = tempfile.mkdtemp(prefix="snm_t_")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in corpus],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = {(r.a_id, r.b_id, r.dist) for r in dedup.sorted_neighborhood_pairs(spark, d).collect()}
    assert (1, 2, 1) in got


def test_incremental_index_finds_planted_cross_batch_dup(spark):
    """A near-dup planted ACROSS the batch/corpus split (batch doc_id
    % 10 == 0, corpus otherwise) must surface through the index
    probe; a corpus-internal duplicate pair must NOT (the probe never
    compares corpus x corpus — that is the point)."""
    import os
    import tempfile

    corpus = {
        # corpus-internal exact dup pair (3, 7): must NOT be emitted
        3: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        7: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        # batch doc 10 is a near-dup of corpus doc 3
        10: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        # unrelated filler
        1: "one two three four five six seven eight nine ten",
        11: "completely different words entirely unlike any other doc",
        2: "filler text goes here with several more words present",
    }
    d = tempfile.mkdtemp(prefix="incr_t_")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in corpus.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in dedup.incremental_dedup_index(spark, d).collect()
    }
    assert (10, 3) in got and (10, 7) in got  # cross-split dups found
    assert all(k[0] % dedup.INCR_BATCH_MOD == 0 for k in got)  # new side only
    assert all(k[1] % dedup.INCR_BATCH_MOD != 0 for k in got)  # corpus side only


def test_staging_memo_restages_on_in_place_corpus_regeneration(spark, tmp_path):
    """The standing-index memo keys on a corpus CONTENT fingerprint,
    not the bare path: regenerating documents.parquet at the SAME
    path must invalidate the memo and build a FRESH index (the probe
    must see the new corpus, not stale band signatures)."""
    import os
    import shutil

    def write_docs(d, corpus):
        p = os.path.join(d, "documents.parquet")
        if os.path.exists(p):
            shutil.rmtree(p)
        spark.createDataFrame(
            [(k, v, "en", "t", len(v)) for k, v in corpus.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(p)

    d = str(tmp_path / "regen")
    os.makedirs(d)
    base = {
        3: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        10: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        1: "one two three four five six seven eight nine ten",
        2: "filler text goes here with several more words present",
    }
    write_docs(d, base)
    first = dedup.build_incremental_dedup_index(spark, d)
    again = dedup.build_incremental_dedup_index(spark, d)
    assert again == first  # unchanged corpus → memo hit
    # regenerate IN PLACE: corpus doc 3 no longer matches batch doc 10
    regen = dict(base)
    regen[3] = "totally rewritten corpus document with no shared shingles at all"
    write_docs(d, regen)
    fresh = dedup.build_incremental_dedup_index(spark, d)
    assert fresh != first  # fingerprint change → fresh staging
    got = {
        (r.new_id, r.corpus_id)
        for r in dedup.incremental_dedup_index(spark, d).collect()
    }
    assert (10, 3) not in got  # probe sees the NEW corpus, not stale bands


def test_choose_dedup_strategy_regimes():
    """The pure selection function: exact when <half the texts are
    distinct, ppjoin up to the size bound, lsh beyond."""
    assert dedup.choose_dedup_strategy(10, 4) == "exact"  # 2*4 < 10
    assert dedup.choose_dedup_strategy(10, 5) == "ppjoin"  # boundary: not exact
    assert dedup.choose_dedup_strategy(10, 10) == "ppjoin"
    assert dedup.choose_dedup_strategy(dedup.DEDUP_PPJOIN_MAX_DOCS, 99_999) == "ppjoin"
    assert dedup.choose_dedup_strategy(dedup.DEDUP_PPJOIN_MAX_DOCS + 1, 100_001) == "lsh"
    assert dedup.choose_dedup_strategy(200_000, 190_000) == "lsh"


def test_dedup_facade_exact_regime_end_to_end(spark):
    """A copy-heavy corpus (7 of 10 docs identical) must route to the
    exact strategy and emit every identical pair with jaccard 1."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="facade_exact_")
    rows = [(i, "the same exact template text body", "en", "t", 33) for i in range(7)]
    rows += [(i, f"unique document number {i} body text", "en", "t", 30) for i in (7, 8, 9)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = dedup.dedup(spark, d).collect()
    assert {r.strategy for r in out} == {"exact"}
    assert all(r.jaccard == 1.0 for r in out)
    assert {(r.a_id, r.b_id) for r in out} == {
        (a, b) for a in range(7) for b in range(7) if a < b
    }


def test_dedup_facade_ppjoin_regime_matches_standalone(spark):
    """On the fixtures (all texts distinct, n under the size bound)
    the façade must route to ppjoin and equal the standalone query."""
    facade = dedup.dedup(spark, SF).collect()
    assert {r.strategy for r in facade} == {"ppjoin"} or facade == []
    standalone = dedup.dedup_ppjoin(spark, SF).collect()
    assert {(r.a_id, r.b_id, r.jaccard) for r in facade} == {
        (r.a_id, r.b_id, r.jaccard) for r in standalone
    }


def test_dedup_facade_forced_lsh_strategy(spark):
    """strategy='lsh' must bypass the stats and run the MinHash path;
    unknown strategies fail loudly."""
    import pytest

    out = dedup.dedup(spark, SF, strategy="lsh").collect()
    got = {(r.a_id, r.b_id) for r in out}
    want = {(r.a_id, r.b_id) for r in dedup.dedup_minhash(spark, SF).collect()}
    assert got == want
    assert {r.strategy for r in out} <= {"lsh"}
    with pytest.raises(ValueError, match="unknown dedup strategy"):
        dedup.dedup(spark, SF, strategy="bogus")


def test_dedup_facade_lsh_regime_end_to_end(spark, tmp_path):
    """Drive the façade through its AUTO-SELECTED lsh regime — the
    one dispatch path no other test reaches end-to-end: a generated
    300-doc all-distinct corpus with ppjoin_max_docs lowered to 250
    (the size seam the façade threads to choose_dedup_strategy) must
    route to 'lsh', and the emitted pairs must VALUE-match the exact
    all-pairs Jaccard SQL (dedup_minhash_verify's oracle) on the
    same corpus — i.e. LSH recall is 1 here: planted near-dups are
    supersets differing by one appended token (3-shingle jaccard
    ~0.93, band collision essentially certain), fillers share no
    shingles."""
    import os

    import duckdb

    rng_tok = lambda i, j: f"f{i}x{j}"  # unique per (doc, pos): no cross-doc shingles
    rows = []
    for i in range(280):  # fillers: 20 unique tokens each, all texts distinct
        rows.append((i, " ".join(rng_tok(i, j) for j in range(20))))
    for k in range(10):  # 10 near-dup pairs: (400+k, 500+k), superset by one token
        base = " ".join(f"p{k}w{j}" for j in range(30))
        rows.append((400 + k, base))
        rows.append((500 + k, base + f" extra{k}"))
    d = str(tmp_path / "facade_lsh")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = dedup.dedup(spark, d, strategy="auto", ppjoin_max_docs=250).collect()
    assert {r.strategy for r in out} == {"lsh"}
    got = {(r.a_id, r.b_id, r.jaccard) for r in out}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    want = {tuple(t) for t in con.execute(dedup.ORACLES["dedup_minhash_verify"]).fetchall()}
    assert got == want
    assert {(a, b) for a, b, _ in got} == {(400 + k, 500 + k) for k in range(10)}


def test_containment_join_lossless_vs_bruteforce(spark):
    """One-sided prefix filtering, tested: on a corpus with a doc
    fully contained in a much larger one (where Jaccard ~ |A|/|B| is
    far below any dedup threshold), containment_join must produce
    EXACTLY the brute-force containment >= t pairs, both directions
    considered independently."""
    import itertools
    import os
    import tempfile

    contained = "alpha beta gamma delta epsilon zeta eta theta"
    container = contained + " " + " ".join(f"filler{i}" for i in range(40))
    corpus = {
        1: contained,           # contained in 2: C(1,2) = 1.0
        2: container,           # C(2,1) small — must NOT pair that way
        3: "one two three four five six seven eight nine ten",
        4: "one two three four five six seven eight nine ten extra",  # contains 3's shingles
        5: "completely unrelated words that overlap with nothing here",
    }

    def sh(text):
        ts = text.split()
        return {"\x1f".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    sets = {k: sh(v) for k, v in corpus.items()}
    t = dedup.CONTAIN_THRESHOLD
    want = set()
    for a, b in itertools.permutations(sorted(sets), 2):
        c = len(sets[a] & sets[b]) / len(sets[a])
        if round(c, 6) >= t:
            want.add((a, b))
    assert (1, 2) in want and (2, 1) not in want  # the asymmetry the test exists for

    d = tempfile.mkdtemp(prefix="contain_t_")
    spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in corpus.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r.a_id, r.b_id) for r in dedup.containment_join(spark, d).collect()
    }
    assert got == want


def test_semdedup_prune_invariants(spark):
    """SemDeDup cell-scoped pruning: every vector gets exactly one
    row; pruned rows name a LOWER-id keeper in the SAME cell whose
    quantized cosine clears the threshold; kept rows carry the -1
    sentinel; and a planted exact-duplicate vector must be pruned in
    favor of its lower-id twin."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.llm import (
        semdedup_prune,
    )

    sf = "/root/testdata/sf0.01"
    rows = semdedup_prune(spark, sf).collect()
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    assert len({r.vec_id for r in rows}) == n_vecs
    cell_of = {r.vec_id: r.cell for r in rows}
    pruned = [r for r in rows if r.pruned == 1]
    assert pruned, "fixture should produce at least one pruned vector"
    for r in pruned:
        assert r.dup_of != -1 and r.dup_of < r.vec_id
        assert cell_of[r.dup_of] == r.cell  # keeper shares the cell
    for r in rows:
        if r.pruned == 0:
            assert r.dup_of == -1


def test_semdedup_planted_duplicate_pruned(spark, tmp_path):
    """An exact duplicate embedding (cos = 1) must always be pruned
    in favor of the lowest-id copy, regardless of cell geometry."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.operators.llm import (
        semdedup_prune,
    )

    base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    twin_src = base.where("vec_id = 100").first()
    twin = spark.createDataFrame(
        [(9_999, twin_src.embedding, twin_src.label)],
        base.schema,
    )
    d = str(tmp_path / "semdedup")
    base.unionByName(twin).write.parquet(os.path.join(d, "embeddings.parquet"))
    rows = {r.vec_id: r for r in semdedup_prune(spark, d).collect()}
    assert rows[9_999].pruned == 1
    assert rows[9_999].dup_of == 100


def test_semdedup_zero_norm_vectors_guarded_both_engines(spark, tmp_path):
    """An all-zero embedding makes the cosine 0/0 — NaN in Spark,
    NULL in DuckDB (engine-divergent without a guard). With the
    zero-norm guard, zero vectors are always KEPT (never a dup, never
    a keeper via similarity), and Spark stays exactly equal to the
    mirrored oracle on a corpus planted with TWO zero vectors sharing
    a cell (all-zero q agrees on every sign bit, so they collide)."""
    import os

    import duckdb

    from cs537_spring2021_p3a_mapreduce_spark.operators.llm import (
        _SEMDEDUP_SQL,
        semdedup_prune,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(base.first().embedding)
    zeros = spark.createDataFrame(
        [(8_000, [0.0] * dim, 0), (8_001, [0.0] * dim, 0)], base.schema
    )
    d = str(tmp_path / "semdedup_zero")
    base.unionByName(zeros).write.parquet(os.path.join(d, "embeddings.parquet"))
    got = [
        (r.vec_id, r.cell, r.dup_of, r.pruned)
        for r in semdedup_prune(spark, d).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'embeddings.parquet')}/*.parquet')"
    )
    want = [tuple(t) for t in con.execute(_SEMDEDUP_SQL).fetchall()]
    assert got == want
    by_id = {v: (c, dup, p) for v, c, dup, p in got}
    # both zero vectors share a cell yet neither is pruned (0/0 is
    # not similarity), and neither appears as anyone's keeper
    assert by_id[8_000][0] == by_id[8_001][0]
    assert by_id[8_000][2] == 0 and by_id[8_001][2] == 0
    assert all(dup not in (8_000, 8_001) for _, (_, dup, _) in by_id.items())


def test_dedup_recall_report_planted_curve(spark, tmp_path):
    """Planted pairs at true Jaccard 0.75 / ~0.875 / ~0.895 / ~0.947:
    the report reproduces the exact bucketed truth counts, and the
    LSH S-curve shows — both 0.8+ buckets at recall 1, while the
    0.75 pair is (deterministically, given the fixed hash family)
    MISSED by the 8×4 banding: exactly the miss class a recall eval
    exists to surface. Precision is 1 (no false-positive bands on
    disjoint vocab). Values are fully deterministic — the hash
    family is fixed at module load."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    A = words("a", 20)                # 18 shingles
    B = A[:-1] + ["zz"]               # 17/19 = 0.8947
    C = words("c", 30)                # 28 shingles
    D = C + ["cx", "cy", "cz", "cw"]  # 28/32 = 0.875
    E = words("e", 20)
    Fw = E + ["ex"]                   # 18/19 = 0.947
    G = words("g", 50)                # 48 shingles
    H = G + words("h", 16)            # 48/64 = 0.75
    docs = [
        (0, " ".join(A)), (1, " ".join(B)),
        (2, " ".join(C)), (3, " ".join(D)),
        (4, " ".join(E)), (5, " ".join(Fw)),
        (6, " ".join(words("q", 25))), (7, " ".join(words("r", 25))),
        (8, " ".join(G)), (9, " ".join(H)),
    ]
    d = str(tmp_path / "recall")
    spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.bucket: r for r in dedup.dedup_recall_report(spark, d).collect()}
    assert set(rows) == {"j_070_080", "j_080_090", "j_090_100"}
    lo, mid, hi = rows["j_070_080"], rows["j_080_090"], rows["j_090_100"]
    assert (lo.n_truth, lo.n_hit, lo.recall_micro) == (1, 0, 0)
    assert (mid.n_truth, mid.n_hit, mid.recall_micro) == (2, 2, 1_000_000)
    assert (hi.n_truth, hi.n_hit, hi.recall_micro) == (1, 1, 1_000_000)
    # overall candidate stats repeat on every row and are consistent
    for r in rows.values():
        assert (r.n_cand, r.n_cand_true, r.precision_micro) == (3, 3, 1_000_000)


def test_cdc_chunk_dedup_shift_invariance(spark, tmp_path):
    """THE content-defined property: doc B = junk prefix + doc A.
    Fixed-size blocks would lose all alignment after the insertion;
    CDC boundaries depend only on local content, so A's chunks past
    the first boundary reappear in B — dup_bytes is large. Chunks
    also PARTITION each doc exactly (total_bytes = Σ doc lengths),
    and two unrelated docs share nothing."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    a = " ".join(f"tok{i}ab" for i in range(200))  # ~1400 chars
    b = "INSERTED PREFIX " + a

    runs = [0]

    def run(docs):
        runs[0] += 1
        d = str(tmp_path / f"cdc{runs[0]}")
        spark.createDataFrame(
            [(i, t, "en", "t", len(t)) for i, t in enumerate(docs)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        return dedup.cdc_chunk_dedup(spark, d).collect()[0]

    r = run([a, b])
    assert r.total_bytes == len(a) + len(b)
    # the shared suffix dedupes: at least half of A's bytes repeat
    assert r.dup_bytes > len(a) // 2
    assert r.dup_ratio_micro == r.dup_bytes * 1_000_000 // r.total_bytes

    # unrelated docs: only incidental tiny within-doc chunk repeats
    # remain (<1% of bytes) — an order of magnitude under the planted
    # duplication, which the ratio comparison pins
    r2 = run([a, "completely different content with no overlap at all"])
    assert r2.dup_ratio_micro < 10_000
    assert r.dup_ratio_micro > 10 * r2.dup_ratio_micro


def test_source_overlap_kmv_estimates_planted_overlap(spark, tmp_path):
    """Planted sources: X and Y share exactly half their docs (true
    J = 1/3), Z is disjoint. With |distinct| <= K the KMV estimate
    is EXACT (the sketch holds the whole set): Ĵ(X,Y) = 1/3,
    Ĵ(X,Z) = 0; merged_max witnesses the sketch content."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    shared = [f"shared doc {i} body" for i in range(4)]
    only_x = [f"x only doc {i} body" for i in range(4)]
    only_y = [f"y only doc {i} body" for i in range(4)]
    only_z = [f"z only doc {i} body" for i in range(8)]
    rows, i = [], 0
    for src, texts in [
        ("X", shared + only_x), ("Y", shared + only_y), ("Z", only_z)
    ]:
        for t in texts:
            rows.append((i, t, "en", src, len(t)))
            i += 1
    d = str(tmp_path / "kmv")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r.source_a, r.source_b): r
        for r in dedup.source_overlap_kmv(spark, d).collect()
    }
    xy = got[("X", "Y")]
    # union = 12 distinct fps <= K=16 -> exact: 4 shared / 12
    assert (xy.k_used, xy.n_shared) == (12, 4)
    assert xy.j_est_micro == 4 * 1_000_000 // 12
    xz = got[("X", "Z")]
    assert xz.n_shared == 0 and xz.j_est_micro == 0
    assert xy.merged_max > 0
