"""Per-domain corpus curation (operators/domains.py): host / registrable-
domain extraction goldens, EXACT capped keeper election vs a local oracle
(with a mega-domain to exercise the two-phase salt split), a DuckDB SQL
mirror for engine portability, and the plan pin (two keyed exchanges, no
Python)."""

from __future__ import annotations

import contextlib
import io
import re

import duckdb
from pyspark.sql import functions as F

from geospatial_spark.operators import domains as dm


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


GOLDENS = [
    ("https://Example.COM/path?q=1", "example.com", "example.com"),
    (
        "http://user:pw@Sub.Shop.Example.co.uk:8080/x",
        "sub.shop.example.co.uk",
        "example.co.uk",
    ),
    ("https://a.b.example.com/", "a.b.example.com", "example.com"),
    ("ftp://192.168.0.1/file", "192.168.0.1", "192.168.0.1"),
    ("https://localhost/x", "localhost", "localhost"),
    ("not a url", "", ""),
    ("https://news.ycombinator.com", "news.ycombinator.com", "ycombinator.com"),
    ("http://foo.ne.jp/x", "foo.ne.jp", "foo.ne.jp"),
    ("https://www.gov.uk/vat", "www.gov.uk", "www.gov.uk"),
]


def test_host_and_registrable_domain_goldens(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in GOLDENS], "url string")
    got = df.select(
        "url",
        dm.url_host_col(F.col("url")).alias("host"),
        dm.registrable_domain_col(dm.url_host_col(F.col("url"))).alias("dom"),
    ).collect()
    want = {u: (h, d) for u, h, d in GOLDENS}
    for r in got:
        assert (r["host"], r["dom"]) == want[r["url"]], r["url"]


def _synthetic(spark, n=4000):
    """Deterministic skewed corpus: half the rows in ONE mega-domain,
    the rest spread over 37 co.uk shop domains; text length varies so the
    keeper order is nontrivial."""
    rows = []
    for i in range(n):
        if i % 2 == 0:
            url = f"https://crawl{i % 5}.Mega.example.com/p/{i}"
        else:
            url = f"http://d{i % 37}.shop.example.co.uk/item?id={i}"
        rows.append((i, url, "x" * (i % 97)))
    return spark.createDataFrame(rows, "page_id long, url string, text string")


def _py_domain(url: str) -> str:
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", url)
    host = (m.group(1) if m else "").lower()
    labels = host.split(".")
    if re.fullmatch(r"[0-9.]+", host) or len(labels) <= 2:
        return host
    take = 3 if (len(labels[-1]) == 2 and labels[-2] in dm._CC_SLD) else 2
    return ".".join(labels[-take:])


def _py_keepers(rows, cap):
    by_dom: dict[str, list] = {}
    for i, url, text in rows:
        by_dom.setdefault(_py_domain(url), []).append((i, len(text)))
    keep = set()
    for dom, members in by_dom.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        keep.update(i for i, _ in members[:cap])
    return keep


def test_domain_cap_exact_vs_local_oracle(spark):
    df = _synthetic(spark)
    rows = [(r["page_id"], r["url"], r["text"]) for r in df.collect()]
    want = _py_keepers(rows, cap=5)
    got = dm.domain_cap(df, 5, id_col="page_id")
    keep = {r["page_id"] for r in got.select("page_id").collect()}
    assert keep == want
    # rank is dense 1..cap per domain
    per_dom = (
        got.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n"), F.max("dom_rank").alias("mx"))
        .collect()
    )
    assert all(r["n"] == r["mx"] <= 5 for r in per_dom)
    # salt shard count is an internal knob, never a semantic one
    keep1 = {
        r["page_id"]
        for r in dm.domain_cap(df, 5, id_col="page_id", n_salts=1)
        .select("page_id")
        .collect()
    }
    assert keep1 == want


def test_domain_cap_duckdb_mirror(spark, tmp_path):
    """Engine portability: the same election (regexp host, heuristic
    registrable domain, (len desc, id) keeper order) in DuckDB SQL elects
    bit-identical keepers."""
    df = _synthetic(spark, n=1500)
    p = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    sld = ", ".join(f"'{s}'" for s in dm._CC_SLD)
    q = f"""
    WITH h AS (
      SELECT page_id, length(text) AS L,
             lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
      FROM read_parquet('{p}/*.parquet')
    ), d AS (
      SELECT page_id, L,
        CASE WHEN regexp_matches(host, '^[0-9.]+$')
                  OR len(string_split(host, '.')) <= 2 THEN host
             ELSE array_to_string(list_slice(
               string_split(host, '.'),
               len(string_split(host, '.')) + 1 - (CASE WHEN
                 length(string_split(host, '.')[-1]) = 2
                 AND string_split(host, '.')[-2] IN ({sld})
                 THEN 3 ELSE 2 END),
               len(string_split(host, '.'))), '.')
        END AS domain
      FROM h
    )
    SELECT page_id FROM (
      SELECT page_id,
             row_number() OVER (PARTITION BY domain ORDER BY L DESC, page_id)
               AS r
      FROM d) WHERE r <= 4
    """
    want = {r[0] for r in con.execute(q).fetchall()}
    got = {
        r["page_id"]
        for r in dm.domain_cap(df, 4, id_col="page_id").select("page_id").collect()
    }
    assert got == want


def test_domain_cap_plan_two_keyed_exchanges_no_python(spark):
    df = _synthetic(spark, n=200)
    plan = _plan(dm.domain_cap(df, 3, id_col="page_id"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    keyed = [
        m.group(1)
        for m in re.finditer(
            r"\(\d+\) Exchange\n(.*?)(?=\n\(\d+\)|\Z)", plan, re.S
        )
        if "hashpartitioning" in m.group(1)
    ]
    assert len(keyed) == 2, plan


def test_domain_cap_random_election_sweep(spark):
    """Randomized exactness sweep of the two-phase election: seeded trials
    drawing url family (mega-domain / ccTLD 3-label / org tail / IP / bare
    host), TIE-HEAVY text lengths (the tie-break path), and a (cap,
    n_salts) grid including n_salts=1 (single-phase degenerate), salts ≫
    rows-per-domain, and caps larger than whole domains (no-drop edge) —
    keeper SET and dom_rank VALUES must both match the local election."""
    import random

    rng = random.Random(23)
    rows = []
    for i in range(600):
        fam = rng.randrange(5)
        if fam == 0:
            url = f"https://c{i % 3}.mega.example.com/{i}"
        elif fam == 1:
            url = f"http://u:p@d{i % 9}.shop.sites.co.uk:81/{i}"
        elif fam == 2:
            url = f"https://w.site{i % 7}.org/x"
        elif fam == 3:
            url = f"ftp://10.0.{i % 4}.1/f"
        else:
            url = "https://solo-host/x"
        rows.append((i, url, "x" * rng.randrange(4)))  # lengths 0-3: ties
    df = spark.createDataFrame(rows, "page_id long, url string, text string")
    for cap, n_salts in ((1, 1), (2, 64), (3, 4), (7, 16), (500, 8)):
        got = {
            r["page_id"]: r["dom_rank"]
            for r in dm.domain_cap(
                df, cap, id_col="page_id", n_salts=n_salts
            ).collect()
        }
        by_dom: dict[str, list] = {}
        for i, url, text in rows:
            by_dom.setdefault(_py_domain(url), []).append((i, len(text)))
        want = {}
        for members in by_dom.values():
            members.sort(key=lambda t: (-t[1], t[0]))
            for rank, (i, _) in enumerate(members[:cap], start=1):
                want[i] = rank
        assert got == want, (cap, n_salts)


def test_host_domain_random_sweep_matches_local(spark):
    """Randomized cross-check of the Column expressions against the local
    reference parser over 400 seeded urls mixing schemes, userinfo, ports,
    IPs, query strings, label counts and ccTLD suffixes."""
    import random

    rng = random.Random(11)
    tlds = ["com", "org", "io", "uk", "jp", "de", "au"]
    slds = ["co", "com", "ac", "or", "shop", "web"]
    urls = []
    for i in range(400):
        scheme = rng.choice(["http", "https", "ftp", "s3+http"])
        nlab = rng.randint(1, 5)
        labels = [f"l{rng.randint(0, 9)}" for _ in range(nlab - 1)]
        if rng.random() < 0.3 and nlab >= 2:
            labels = labels[:-1] + [rng.choice(slds)]
        host = ".".join(labels + [rng.choice(tlds)]) if nlab > 1 else "host"
        if rng.random() < 0.1:
            host = f"10.{rng.randint(0,255)}.0.{rng.randint(0,255)}"
        if rng.random() < 0.2:
            host = host.upper()
        user = f"u{rng.randint(0,9)}:pw@" if rng.random() < 0.15 else ""
        port = f":{rng.randint(80, 9999)}" if rng.random() < 0.2 else ""
        path = rng.choice(["", "/", "/a/b?x=1&y=2", "/p#frag"])
        urls.append((i, f"{scheme}://{user}{host}{port}{path}"))
    df = spark.createDataFrame(urls, "i long, url string")
    got = {
        r["i"]: (r["h"], r["d"])
        for r in df.select(
            "i",
            dm.url_host_col(F.col("url")).alias("h"),
            dm.registrable_domain_col(dm.url_host_col(F.col("url"))).alias("d"),
        ).collect()
    }
    for i, url in urls:
        m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", url)
        host = (m.group(1) if m else "").lower()
        assert got[i] == (host, _py_domain(url)), url
