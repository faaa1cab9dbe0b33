"""Round-6 operators vs INDEPENDENT pure-Python reference
implementations on seeded random data — a third opinion besides the
DuckDB oracle (which deliberately shares the formulation, so a shared
formulation bug would pass parity; a from-scratch Python fold won't).
"""

from __future__ import annotations

import math
import random
from collections import Counter, defaultdict

import pytest


def _rows(seed, n=400):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        a = rng.choice(["x", "y", "z", None])
        b = rng.choice(["p", "q", None])
        v = rng.choice([None, 0.0, rng.uniform(-50, 5000)])
        out.append((i, a, b, v))
    return out


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        _rows(99), "id long, a string, b string, v double")


def test_entropy_vs_python(spark, frame):
    from dataprofiler_spark.operators.categorical import column_entropy

    got = {r["column"]: r for r in
           column_entropy(frame, ["a", "b"]).collect()}
    rows = _rows(99)
    for idx, col in ((1, "a"), (2, "b")):
        c = Counter(r[idx] for r in rows)     # NULL is a category
        n = sum(c.values())
        h = -sum(k / n * math.log(k / n) for k in c.values())
        assert got[col]["n"] == n and got[col]["k"] == len(c)
        assert got[col]["entropy"] == pytest.approx(h, abs=1e-5)
        assert got[col]["normalized_entropy"] == pytest.approx(
            h / math.log(len(c)), abs=1e-5)


def test_cohens_kappa_vs_python(spark, frame):
    from dataprofiler_spark.operators.correlation import cohens_kappa

    r = cohens_kappa(frame, "a", "b").collect()[0]
    rows = [(x[1], x[2]) for x in _rows(99)
            if x[1] is not None and x[2] is not None]
    n = len(rows)
    po = sum(1 for a, b in rows if a == b) / n
    ra, cb = Counter(a for a, _ in rows), Counter(b for _, b in rows)
    pe = sum(ra[k] * cb.get(k, 0) for k in ra) / n / n
    kappa = (po - pe) / (1 - pe)
    assert r["n"] == n
    assert r["po"] == pytest.approx(po, abs=1e-5)
    assert r["pe"] == pytest.approx(pe, abs=1e-5)
    assert r["kappa"] == pytest.approx(kappa, abs=1e-5)


def test_null_phi_vs_python(spark, frame):
    from dataprofiler_spark.operators.correlation import null_phi_matrix

    r = null_phi_matrix(frame, ["a", "v"]).collect()[0]
    rows = _rows(99)
    n = len(rows)
    r1 = sum(1 for x in rows if x[1] is None)
    r2 = sum(1 for x in rows if x[3] is None)
    n11 = sum(1 for x in rows if x[1] is None and x[3] is None)
    phi = (n * n11 - r1 * r2) / math.sqrt(
        r1 * (n - r1) * r2 * (n - r2))
    assert (r["null1"], r["null2"], r["both_null"]) == (r1, r2, n11)
    assert r["phi"] == pytest.approx(phi, abs=1e-5)


def test_fd_g3_vs_python(spark, frame):
    from dataprofiler_spark.operators.validators import fd_check

    r = fd_check(frame, [("a", "b")]).collect()[0]
    groups = defaultdict(Counter)
    for x in _rows(99):
        groups[x[1]][x[2]] += 1
    n = sum(sum(c.values()) for c in groups.values())
    keep = sum(max(c.values()) for c in groups.values())
    assert r["n"] == n and r["n_groups"] == len(groups)
    assert r["g3_error"] == pytest.approx(1 - keep / n, abs=1e-5)
    assert r["violating_groups"] == sum(
        1 for c in groups.values() if len(c) > 1)


def test_benford_vs_python(spark, frame):
    from dataprofiler_spark.operators.numeric import benford_test

    r = benford_test(frame, ["v"]).collect()[0]
    digits = Counter()
    for x in _rows(99):
        v = x[3]
        if v is None or v == 0:
            continue
        s = f"{abs(v):.10f}".replace(".", "").lstrip("0")
        digits[int(s[0])] += 1
    n = sum(digits.values())
    chi2 = sum((digits.get(d, 0) - math.log10(1 + 1 / d) * n) ** 2
               / (math.log10(1 + 1 / d) * n) for d in range(1, 10))
    assert r["n"] == n
    assert r["chi2"] == pytest.approx(chi2, rel=1e-4)
    top = max(range(1, 10),
              key=lambda d: (digits.get(d, 0), -d))
    assert r["top_digit"] == top


def test_robust_stats_vs_python(spark, frame):
    from dataprofiler_spark.operators.numeric import robust_stats

    r = robust_stats(frame, ["v"], trim=0.05).collect()[0]
    vals = sorted(x[3] for x in _rows(99) if x[3] is not None)
    n = len(vals)

    def q(p):
        # linear interpolation (percentile_cont rule, Type-7)
        i = (n - 1) * p
        lo, hi = int(math.floor(i)), int(math.ceil(i))
        return vals[lo] + (vals[hi] - vals[lo]) * (i - lo)

    q1, q3 = q(0.25), q(0.75)
    assert r["q1"] == pytest.approx(q1, abs=1e-4)
    assert r["iqr"] == pytest.approx(q3 - q1, abs=1e-4)
    fl, fh = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    assert r["n_low_outliers"] == sum(1 for v in vals if v < fl)
    assert r["n_high_outliers"] == sum(1 for v in vals if v > fh)
    # rank trim (scipy.stats.trim_mean rule): drop ⌊n·trim⌋ each side
    lcut = int(math.floor(n * 0.05))
    inner = vals[lcut:n - lcut]
    assert r["trimmed_mean"] == pytest.approx(
        sum(round(v, 6) for v in inner) / len(inner), abs=1e-4)
    # winsorize: tails replaced by the boundary ORDER STATISTICS
    wins = (sum(round(v, 6) for v in inner)
            + lcut * round(vals[lcut], 6)
            + lcut * round(vals[n - lcut - 1], 6))
    assert r["winsorized_mean"] == pytest.approx(wins / n, abs=1e-4)


def test_zipf_slope_vs_numpy(spark):
    from dataprofiler_spark.operators.textanalysis import zipf_vocab_stats

    rng = random.Random(5)
    words = []
    for r_ in range(1, 30):
        words += [f"t{r_:03d}"] * max(1, int(200 / r_ ** 1.2))
    rng.shuffle(words)
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    got = zipf_vocab_stats(df, "text", max_rank=29).collect()[0]

    import numpy as np
    counts = sorted(Counter(words).items(),
                    key=lambda kv: (-kv[1], kv[0]))
    x = np.log(np.arange(1, len(counts) + 1))
    y = np.log(np.array([c for _, c in counts], dtype=float))
    slope = np.polyfit(x, y, 1)[0]
    assert got["zipf_slope"] == pytest.approx(slope, abs=1e-3)
    assert got["vocab_size"] == len(counts)


# ---------------------------------------------------------------------------
# Third-opinion checks for OLDER shared-formulation operators (the same
# class of bug the benford dense-grid fix came from).
# ---------------------------------------------------------------------------

def test_chi2_cramers_vs_python(spark, frame):
    from dataprofiler_spark.operators.correlation import (chi2_matrix_pair,
                                                          cramers_v_pair)

    rows = [(x[1], x[2]) for x in _rows(99)
            if x[1] is not None and x[2] is not None]
    ra, cb = Counter(a for a, _ in rows), Counter(b for _, b in rows)
    joint = Counter(rows)
    n = len(rows)
    chi2 = 0.0
    for a in ra:
        for b in cb:                      # DENSE grid incl. zero cells
            e = ra[a] * cb[b] / n
            chi2 += (joint.get((a, b), 0) - e) ** 2 / e
    r = chi2_matrix_pair(frame, "a", "b").collect()[0]
    assert r["chi2"] == pytest.approx(chi2, rel=1e-6)
    assert r["dof"] == (len(ra) - 1) * (len(cb) - 1)
    v = cramers_v_pair(frame, "a", "b").collect()[0]
    m = min(len(ra) - 1, len(cb) - 1)
    assert v["v"] == pytest.approx(
        math.sqrt(round(chi2, 6) / n / m), abs=1e-5)


def test_mutual_info_vs_python(spark, frame):
    from dataprofiler_spark.operators.correlation import mutual_info_pair

    rows = [("(null)" if x[1] is None else x[1],
             "(null)" if x[2] is None else x[2]) for x in _rows(99)]
    n = len(rows)
    ra, cb, joint = (Counter(a for a, _ in rows),
                     Counter(b for _, b in rows), Counter(rows))
    mi = sum(c / n * math.log(c * n / (ra[a] * cb[b]))
             for (a, b), c in joint.items())
    h_a = -sum(k / n * math.log(k / n) for k in ra.values())
    h_b = -sum(k / n * math.log(k / n) for k in cb.values())
    r = mutual_info_pair(frame, "a", "b").collect()[0]
    assert r["mi"] == pytest.approx(mi, abs=1e-5)
    assert r["nmi"] == pytest.approx(mi / min(h_a, h_b), abs=1e-5)


def test_quality_score_vs_python(spark):
    from dataprofiler_spark.operators.textanalysis import (STOP_WORDS,
                                                           quality_features)

    texts = ["the quick brown fox, with punctuation!!! and the stops",
             "x", "", "a b c d " * 40, None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r["id"]: r for r in
           quality_features(df, "id", "text").collect()}
    for i, t in enumerate(texts):
        if t is None:
            assert got[i]["quality_score"] == 0.0
            continue
        toks = t.lower().split()
        nt, nc = len(toks), len(t)
        npunct = sum(1 for ch in t
                     if not (ch.isalnum() or ch == "_" or ch.isspace()))
        ns = sum(1 for w in toks if w in STOP_WORDS)
        pr = npunct / nc if nc else 0.0
        sr = ns / nt if nt else 0.0
        score = (min(nt / 100, 1.0) * 0.4
                 + (1 - min(pr * 5, 1.0)) * 0.3 + min(sr * 4, 1.0) * 0.3)
        assert got[i]["quality_score"] == pytest.approx(score, abs=1e-5), t


def test_minhash_jaccard_vs_python(spark):
    """The LSH verify stage's exact jaccard equals a from-scratch
    char-shingle jaccard for pairs the banding surfaces."""
    from dataprofiler_spark.operators.dedup import minhash_lsh_pairs

    docs = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dot"),
            (2, "completely different content here entirely")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id1"], r["id2"]): r["jaccard"] for r in
           minhash_lsh_pairs(df, "doc_id", "text", threshold=0.0,
                             bands=12, num_hashes=12).collect()}

    def shingles(t, k=3):
        return {t[i:i + k] for i in range(len(t) - k + 1)}

    s0, s1 = shingles(docs[0][1]), shingles(docs[1][1])
    truth = len(s0 & s1) / len(s0 | s1)
    assert (0, 1) in got
    assert got[(0, 1)] == pytest.approx(truth, abs=1e-6)


def test_correlation_matrix_vs_numpy(spark, sf_dir):
    import os

    import numpy as np

    from dataprofiler_spark.operators.correlation import correlation_matrix

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    got = {(r["col1"], r["col2"]): r["corr"] for r in
           correlation_matrix(li, cols).collect()}
    pdf = li.select(cols).toPandas()
    # the engine's exact formulation works on 1e-3-scaled integers; mirror that
    # rounding so numpy sees the same data
    arr = np.round(pdf.to_numpy(dtype=float) * 1000) / 1000
    cm = np.corrcoef(arr, rowvar=False)
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if i < j:
                assert got[(a, b)] == pytest.approx(cm[i][j], abs=1e-6)


def test_daily_anomalies_vs_python(spark):
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.events import daily_volume_anomalies

    rng = random.Random(3)
    rows = []
    for day in range(1, 21):
        n = 40 + rng.randint(-5, 5)
        if day == 7:
            n = 400                       # the outage-inverse spike
        rows += [(day * 86400 + s,) for s in range(n)]
    df = (spark.createDataFrame(rows, "t long")
          .withColumn("ts", F.timestamp_seconds("t")))
    got = {r["day"]: r for r in
           daily_volume_anomalies(df, "ts", z=3.5).collect()}

    days = Counter()
    for (t,) in rows:
        days[t // 86400] += 1
    counts = sorted(days.values())

    def med(v):
        m = len(v) // 2
        return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2
    m = med(counts)
    mad = med(sorted(abs(c - m) for c in counts))
    flagged = {d for d, c in days.items()
               if mad > 0 and 0.6745 * abs(c - m) / mad > 3.5}
    got_flagged = {d for d, r in got.items() if r["is_anomaly"]}
    from datetime import datetime, timezone
    want = {datetime.fromtimestamp(d * 86400, tz=timezone.utc)
            .strftime("%Y-%m-%d") for d in flagged}
    assert got_flagged == want and len(want) == 1


def test_active_users_vs_python(spark):
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.events import active_users_rollup

    rng = random.Random(17)
    rows = [(rng.randint(1, 30), rng.randint(0, 13) * 86400 + 5)
            for _ in range(600)]
    df = (spark.createDataFrame(rows, "u long, t long")
          .withColumn("ts", F.timestamp_seconds("t")))
    got = {r["day"]: r for r in active_users_rollup(
        df, "u", "ts", window_days=7).collect()}

    by_day = defaultdict(set)
    for u, t in rows:
        by_day[t // 86400].add(u)
    from datetime import datetime, timezone
    for d, users in by_day.items():
        wau = set()
        for off in range(7):
            wau |= by_day.get(d - off, set())
        key = datetime.fromtimestamp(d * 86400, tz=timezone.utc) \
            .strftime("%Y-%m-%d")
        assert got[key]["dau"] == len(users), key
        assert got[key]["wau"] == len(wau), key
        assert got[key]["stickiness"] == pytest.approx(
            len(users) / len(wau), abs=1e-5)


def test_embedding_shift_vs_numpy(spark):
    import numpy as np

    from dataprofiler_spark.operators.vectorstats import embedding_shift

    rng = np.random.RandomState(8)
    a = rng.uniform(-1, 1, (40, 16))
    b = rng.uniform(-1, 1, (50, 16)) + 0.1
    df_a = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(a)],
        "id long, v array<double>")
    df_b = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(b)],
        "id long, v array<double>")
    r = embedding_shift(df_a, df_b, "v").collect()[0]
    # mirror the engine's 1e-6 fixed-point means
    ma = np.round(a * 1e6).sum(axis=0) / len(a) / 1e6
    mb = np.round(b * 1e6).sum(axis=0) / len(b) / 1e6
    cos = float(ma @ mb / (np.linalg.norm(ma) * np.linalg.norm(mb)))
    assert r["n_a"] == 40 and r["n_b"] == 50
    assert r["mean_cosine"] == pytest.approx(cos, abs=1e-5)
    assert r["mean_l2_dist"] == pytest.approx(
        float(np.linalg.norm(ma - mb)), abs=1e-5)
    assert r["max_abs_dim_shift"] == pytest.approx(
        float(np.max(np.abs(ma - mb))), abs=1e-5)


def test_domain_extract_vs_urllib(spark):
    """Host parse agrees with urllib for well-formed URLs (the suffix
    rule is the engine's own heuristic; the HOST must match stdlib)."""
    import urllib.parse

    from dataprofiler_spark.operators.domains import domain_extract

    urls = ["https://www.example.co.uk:8080/p?q=1#f",
            "http://user:pw@cdn.alpha.com/x",
            "ftp://files.beta.com.au/z",
            "https://192.168.0.1:443/x",
            "https://single/x"]
    df = spark.createDataFrame(list(enumerate(urls)),
                               "id long, url string")
    got = {r["id"]: r["host"] for r in
           domain_extract(df, "id", "url").collect()}
    for i, u in enumerate(urls):
        assert got[i] == urllib.parse.urlparse(u).hostname, u


def test_markup_signals_vs_re(spark):
    import re

    from dataprofiler_spark.operators.textanalysis import markup_signals

    texts = ["<div>x</div> &amp; <br/> plain &#169; &#x2122; <a href='q'>",
             "no markup here at all just words", "\x01\x02ctrl��"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "id long, text string")
    got = {r["id"]: r for r in
           markup_signals(df, "id", "text").collect()}
    for i, t in enumerate(texts):
        assert got[i]["tag_count"] == len(
            re.findall(r"<[a-zA-Z/][^<>]*>", t)), t
        assert got[i]["entity_count"] == len(re.findall(
            r"&(?:[a-zA-Z]{2,10}|#[0-9]{1,7}|#x[0-9a-fA-F]{1,6});", t))
        assert got[i]["control_char_count"] == len(
            re.findall(r"[\x00-\x08\x0b\x0c\x0e-\x1f]", t))
        assert got[i]["replacement_count"] == t.count("�")


def test_paragraph_dup_vs_python(spark):
    from dataprofiler_spark.operators.curation import paragraph_dup_signals

    rng = random.Random(31)
    boiler = ["shared boilerplate paragraph number %d with enough chars"
              % k for k in range(3)]
    docs = []
    for i in range(20):
        paras = [f"unique paragraph {i}-{j} with sufficient characters"
                 for j in range(rng.randint(1, 3))]
        paras += rng.sample(boiler, rng.randint(0, 2))
        rng.shuffle(paras)
        docs.append((i, "\n\n".join(paras)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: r for r in paragraph_dup_signals(
        df, "doc_id", "text").collect()}

    import re as _re
    corpus = Counter()
    split = {}
    for i, t in docs:
        ps = [_re.sub(r"\s+", " ", p).strip()
              for p in _re.split(r"\n\s*\n", t)]
        ps = [p for p in ps if len(p) >= 20]
        split[i] = ps
        corpus.update(ps)
    for i, _ in docs:
        dup = [p for p in split[i] if corpus[p] > 1]
        assert got[i]["n_paras"] == len(split[i]), i
        assert got[i]["n_dup_paras"] == len(dup), i
        tot = sum(len(p) for p in split[i])
        want = sum(len(p) for p in dup) / tot if tot else 0.0
        assert got[i]["dup_char_ratio"] == pytest.approx(want, abs=1e-5)


def test_theils_u_vs_python(spark, frame):
    from dataprofiler_spark.operators.correlation import theils_u_pair

    rows = [("(null)" if x[1] is None else x[1],
             "(null)" if x[2] is None else x[2]) for x in _rows(99)]
    n = len(rows)
    ra, cb, joint = (Counter(a for a, _ in rows),
                     Counter(b for _, b in rows), Counter(rows))

    def H(c):
        return -sum(k / n * math.log(k / n) for k in c.values())
    mi = H(ra) + H(cb) - H(joint)
    r = theils_u_pair(frame, "a", "b").collect()[0]
    assert r["u_ab"] == pytest.approx(mi / H(cb), abs=1e-5)
    assert r["u_ba"] == pytest.approx(mi / H(ra), abs=1e-5)

    # asymmetry direction check: a determines b perfectly, not reversed
    det = spark.createDataFrame(
        [("x1", "p"), ("x2", "p"), ("y1", "q"), ("y2", "q")] * 10,
        ["a", "b"])
    r2 = theils_u_pair(det, "a", "b").collect()[0]
    # u_ab = U(B|A) = MI/H(B): knowing a pins b -> 1
    assert r2["u_ab"] == 1.0
    # u_ba = U(A|B) = MI/H(A): b only halves a's 2-bit entropy
    assert r2["u_ba"] == 0.5


def test_interarrival_vs_python(spark):
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.events import interarrival_stats

    rng = random.Random(21)
    rows = []
    for u in range(1, 6):
        t = 0
        for _ in range(rng.randint(2, 30)):
            t += rng.randint(1, 500)
            rows.append((u, t))
    rows.append((99, 7))          # single-event user: no gap
    rows.append((None, 11))       # NULL user drops
    df = (spark.createDataFrame(rows, "u long, t long")
          .withColumn("ts", F.timestamp_seconds("t")))
    r = interarrival_stats(df, "u", "ts").collect()[0]

    by_u = defaultdict(list)
    for u, t in rows:
        if u is not None:
            by_u[u].append(t)
    gaps = []
    for ts in by_u.values():
        ts.sort()
        gaps += [b - a for a, b in zip(ts, ts[1:])]
    n = len(gaps)
    mu = sum(gaps) / n
    var = (n * sum(g * g for g in gaps) - sum(gaps) ** 2) / n / (n - 1)
    sd = math.sqrt(var)
    assert r["n_gaps"] == n
    assert r["mean_gap_s"] == pytest.approx(mu, abs=1e-5)
    assert r["stddev_gap_s"] == pytest.approx(sd, abs=1e-5)
    assert r["burstiness"] == pytest.approx((sd - mu) / (sd + mu),
                                            abs=1e-5)
    srt = sorted(gaps)
    i = (n - 1) * 0.5
    lo_, hi_ = int(math.floor(i)), int(math.ceil(i))
    med = srt[lo_] + (srt[hi_] - srt[lo_]) * (i - lo_)
    assert r["median_gap_s"] == pytest.approx(med, abs=1e-5)
