"""Smoke tests for the spark-submit job surface: one subprocess run per
job on the smallest scale, asserting every output table published in the
single atomic commit.  Most run ``python spark_jobs/…`` with the repo on
``PYTHONPATH``; the flagship extraction job runs through ``spark-submit
--py-files`` with the engine zip as the only route to the package."""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# A cluster submit sizes shuffles with --conf (see spark_jobs/extract_job.py);
# these tiny inputs run at the in-session fixture's 8 shuffle partitions
# rather than Spark's default 200, which costs a task per partition.
JOB_CONF = ("spark.sql.shuffle.partitions=8", "spark.ui.enabled=false")


def _job_env() -> dict:
    """Environment for ``python spark_jobs/…``: the repo on PYTHONPATH and
    JOB_CONF handed to the launched JVM as ``spark-submit --conf`` would."""
    conf = " ".join(f"--conf {c}" for c in JOB_CONF)
    return dict(
        os.environ,
        PYTHONPATH=str(ROOT),
        PYSPARK_SUBMIT_ARGS=f"{conf} pyspark-shell",
    )


def test_extract_job_spark_submit_py_files(tmp_path):
    """``spark-submit --py-files <zip> spark_jobs/extract_job.py`` with
    ``PYTHONPATH`` unset and the working directory outside the repo, so
    driver and workers can import the engine only from the zip: output and
    lineage commit together and cover every input turn.  Then a Python that
    zip-imports the package the same way has the archive-reread patch
    active (CPython < 3.13) and re-reads nothing on invalidation."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark
    from pyspark.sql.pandas.types import to_arrow_schema

    from mistral_ocr_pipeline_spark.fixtures.gen import (
        gen_transcripts,
        transcripts_schema,
    )

    zip_path = tmp_path / "engine.zip"
    subprocess.run(
        [sys.executable, str(ROOT / "tools" / "make_pyfiles.py"), str(zip_path)],
        check=True, capture_output=True,
    )
    schema = to_arrow_schema(transcripts_schema())
    rows = gen_transcripts(24, 3, seed=11, profile="unit")
    inp = str(tmp_path / "transcripts.parquet")
    pq.write_table(
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema),
        inp,
    )
    wh = tmp_path / "wh"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    proc = subprocess.run(
        [
            os.path.join(spark_home, "bin", "spark-submit"),
            "--master", "local[2]",
            *[a for c in JOB_CONF for a in ("--conf", c)],
            "--py-files", str(zip_path),
            str(ROOT / "spark_jobs" / "extract_job.py"),
            "--input", inp, "--warehouse", str(wh), "--n-buckets", "4",
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = ast.literal_eval(proc.stdout.strip().splitlines()[-1])
    assert summary["processed_buckets"] == 4
    assert summary["total_rows"] == len(rows)
    manifest = json.loads(
        (wh / "_manifests" / (wh / "_HEAD").read_text().strip()).read_text()
    )
    assert set(manifest["tables"]) == {"extracted", "run_partitions"}
    out = pq.read_table(wh / manifest["tables"]["extracted"])
    assert sorted(zip(out["conv_id"].to_pylist(), out["turn_idx"].to_pylist())) == (
        sorted((r[0], r[1]) for r in rows)
    )
    lineage = pq.read_table(wh / manifest["tables"]["run_partitions"])
    assert sorted(lineage["conv_bucket"].to_pylist()) == [0, 1, 2, 3]
    assert sum(lineage["rows"].to_pylist()) == len(rows)

    probe = (
        "import importlib, sys, zipimport\n"
        "import mistral_ocr_pipeline_spark as m\n"
        "reads = []\n"
        "real = zipimport._read_directory\n"
        "zipimport._read_directory = lambda p: reads.append(p) or real(p)\n"
        "importlib.invalidate_caches()\n"
        "reads.clear()\n"
        "importlib.invalidate_caches()\n"
        "print(m.__file__, zipimport.zipimporter.invalidate_caches.__module__,"
        " len(reads))\n"
    )
    env["PYTHONPATH"] = str(zip_path)
    zp = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert zp.returncode == 0, zp.stderr[-2000:]
    pkg_file, patch_module, reads = zp.stdout.split()
    assert pkg_file.startswith(str(zip_path) + os.sep)
    installed = patch_module == "mistral_ocr_pipeline_spark._zipcache"
    assert installed == (sys.version_info < (3, 13))
    assert reads == "0"


def test_curation_job_cli(tmp_path):
    wh = str(tmp_path / "wh")
    env = _job_env()
    proc = subprocess.run(
        [
            sys.executable, "spark_jobs/curation_job.py",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--warehouse", wh,
            "--lang-col", "lang",
            "--unimax-budget-tokens", "4000",
            "--unimax-max-epochs", "2",
            "--pack-budget", "256",
            # loose KN fluency cut: exercises the LM-score join without
            # changing which fixture docs survive (all score well under 50)
            "--max-kn-surprisal", "50.0",
        ],
        cwd="/root/repo", env=env, capture_output=True, text=True,
        timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    head = os.path.join(wh, "_HEAD")
    assert os.path.exists(head)
    manifest = json.load(
        open(os.path.join(wh, "_manifests", open(head).read().strip()))
    )
    assert set(manifest["tables"]) == {
        "curated", "curation_rollup", "pack_assignment", "pack_stats",
        "unimax_plan", "unimax_stream",
    }


def test_ann_index_job_cli(tmp_path):
    """build → add → search round-trip through the spark-submit surface:
    the index + model publish atomically; `add` encodes a NEW batch with
    the persisted frozen model (no retrain, no history rescan) and the
    added vectors are immediately retrievable — each query finds its
    added exact clone at the top."""
    import duckdb

    wh = str(tmp_path / "wh_ann")
    out = str(tmp_path / "topk")
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)
    corpus = "/root/testdata/sf0.001/embeddings.parquet"
    b = subprocess.run(
        [sys.executable, "spark_jobs/ann_index_job.py", "build",
         "--corpus", corpus, "--warehouse", wh,
         "--n-centroids", "8", "--m", "8", "--ksub", "8",
         "--pq-iters", "2", "--by-residual", "--keep-vec"],
        **common,
    )
    assert b.returncode == 0, b.stderr[-2000:]
    stats = json.loads(b.stdout.strip().splitlines()[-1])
    assert stats["indexed"] == 500 and stats["by_residual"]

    batch2 = str(tmp_path / "batch2.parquet")
    duckdb.sql(
        f"copy (select vec_id + 10000 as vec_id, embedding from '{corpus}')"
        f" to '{batch2}' (format parquet)"
    )
    a = subprocess.run(
        [sys.executable, "spark_jobs/ann_index_job.py", "add",
         "--corpus", batch2, "--warehouse", wh],
        **common,
    )
    assert a.returncode == 0, a.stderr[-2000:]
    astats = json.loads(a.stdout.strip().splitlines()[-1])
    assert astats == {"added": 500, "indexed": 1000}

    s = subprocess.run(
        [sys.executable, "spark_jobs/ann_index_job.py", "search",
         "--queries", corpus, "--warehouse", wh,
         "--k", "3", "--n-probe", "2", "--refine", "16", "--output", out],
        **common,
    )
    assert s.returncode == 0, s.stderr[-2000:]
    n = json.loads(s.stdout.strip().splitlines()[-1])["results"]
    assert 1400 <= n <= 1500  # ~k per query; a sparse probed cell may trim
    # the added exact clone of (almost) every query must be retrieved —
    # proof the appended codes live in the same searchable index (ties
    # at probed-cell boundaries may cost a few)
    clone_hits = duckdb.sql(
        f"select count(*) from '{out}/*.parquet'"
        " where vec_id = query_id + 10000"
    ).fetchone()[0]
    assert clone_hits >= 490, clone_hits
    manifest = json.load(
        open(os.path.join(wh, "_manifests",
                          open(os.path.join(wh, "_HEAD")).read().strip()))
    )
    assert set(manifest["tables"]) == {"ivfpq_index", "ivfpq_model"}


def test_sft_job_cli(tmp_path):
    """Transcript SFT curation through the spark-submit surface: fused
    facts -> keep rule -> PII scrub -> window cut, three tables in one
    atomic commit; turns in kept conversations all carry a window id."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh_sft")
    env = _job_env()
    mk = subprocess.run(
        [
            sys.executable, "-c",
            "import sys; sys.path.insert(0, '/root/repo');"
            "from mistral_ocr_pipeline_spark.session import get_spark;"
            "from mistral_ocr_pipeline_spark.plans.entry_queries import"
            " transcripts_from_documents;"
            "s = get_spark(app_name='mk', cores=2);"
            "transcripts_from_documents(s.read.parquet("
            "'/root/testdata/sf0.001/documents.parquet'))"
            f".write.mode('overwrite').parquet('{src}')",
        ],
        cwd="/root/repo", env=env, capture_output=True, text=True, timeout=400,
    )
    assert mk.returncode == 0, mk.stderr[-2000:]
    proc = subprocess.run(
        [
            sys.executable, "spark_jobs/sft_job.py",
            "--input", src, "--warehouse", wh,
            "--budget", "128", "--scrub-pii",
        ],
        cwd="/root/repo", env=env, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    head = os.path.join(wh, "_HEAD")
    manifest = json.load(
        open(os.path.join(wh, "_manifests", open(head).read().strip()))
    )
    assert set(manifest["tables"]) == {"sft_turns", "sft_facts", "sft_rollup"}
    turns = pq.read_table(
        os.path.join(wh, manifest["tables"]["sft_turns"])
    ).to_pylist()
    facts = pq.read_table(
        os.path.join(wh, manifest["tables"]["sft_facts"])
    ).to_pylist()
    kept = {r["conv_id"] for r in facts if r["keep"]}
    assert kept and {t["conv_id"] for t in turns} == kept
    assert all(t["win_id"] >= 0 and t["turn_tokens"] >= 0 for t in turns)


def test_profile_job_cli(tmp_path):
    """Incremental ingest profiling through the spark-submit surface:
    batch 1 bootstraps the stats ledger, batch 2 appends, the merged
    table-level profile reflects BOTH batches, and a rerun of batch 2 is
    an idempotent no-op (same _HEAD)."""
    import duckdb

    b1 = str(tmp_path / "b1.parquet")
    b2 = str(tmp_path / "b2.parquet")
    wh = str(tmp_path / "wh_prof")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT doc_id, text, lang FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " WHERE doc_id % 2 = 0) TO '" + b1 + "' (FORMAT PARQUET)"
    )
    con.execute(
        "COPY (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN NULL"
        " ELSE text END AS text, lang FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " WHERE doc_id % 2 = 1) TO '" + b2 + "' (FORMAT PARQUET)"
    )
    n1 = con.execute(f"SELECT count(*) FROM '{b1}'").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM '{b2}'").fetchone()[0]
    nulls2 = con.execute(
        f"SELECT count(*) FROM '{b2}' WHERE text IS NULL"
    ).fetchone()[0]
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)

    def run(inp, batch):
        return subprocess.run(
            [sys.executable, "spark_jobs/profile_job.py",
             "--input", inp, "--warehouse", wh, "--batch-id", batch,
             "--columns", "doc_id,text,lang"],
            **common,
        )

    p1 = run(b1, "batch-1")
    assert p1.returncode == 0, p1.stderr[-2000:]
    p2 = run(b2, "batch-2")
    assert p2.returncode == 0, p2.stderr[-2000:]
    head = os.path.join(wh, "_HEAD")
    head_after_2 = open(head).read().strip()
    manifest = json.load(
        open(os.path.join(wh, "_manifests", head_after_2))
    )
    assert set(manifest["tables"]) == {"profile_stats", "profile_merged"}
    merged = {
        r[0]: r
        for r in con.execute(
            "SELECT \"column\", n_rows, n_null, est_distinct FROM "
            f"read_parquet('{os.path.join(wh, manifest['tables']['profile_merged'])}/*.parquet')"
        ).fetchall()
    }
    assert merged["doc_id"][1] == n1 + n2
    assert merged["text"][2] == nulls2          # nulls only in batch 2
    assert merged["lang"][3] == 5.0             # below-k: estimate exact
    # distinct doc_id across both batches is exact too (500 < k=256?)
    # 500 distinct > 256 -> estimator branch: within 20% of truth
    assert abs(merged["doc_id"][3] - (n1 + n2)) / (n1 + n2) < 0.2
    # idempotent rerun: no new commit
    p2b = run(b2, "batch-2")
    assert p2b.returncode == 0, p2b.stderr[-2000:]
    assert "already-recorded" in p2b.stdout
    assert open(head).read().strip() == head_after_2


def test_linkgraph_job_cli(tmp_path, spark):
    """Incremental link-graph maintenance through the spark-submit
    surface: batch 1 bootstraps, batch 2 merges (append ≡ one-shot over
    both batches), authority lands in the same commit, and a rerun of
    batch 2 is an idempotent no-op (same _HEAD)."""
    import duckdb
    import pandas as pd

    def pages(lo, hi):
        rows = []
        for i in range(lo, hi):
            html = (
                f'<a href="https://site{(i + 1) % 3}.example.com/p/{i % 7}">'
                f"read {i % 5}</a>"
            )
            if i % 3 == 0:
                html += '<a href="/rel/x">more</a>'
            rows.append((i, html, f"site{i % 3}.example.com"))
        return rows

    b1 = str(tmp_path / "lg_b1.parquet")
    b2 = str(tmp_path / "lg_b2.parquet")
    cols = ["doc_id", "html", "src_host"]
    pd.DataFrame(pages(0, 40), columns=cols).to_parquet(b1, index=False)
    pd.DataFrame(pages(40, 90), columns=cols).to_parquet(b2, index=False)
    wh = str(tmp_path / "wh_lg")
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)

    def run(inp, batch):
        return subprocess.run(
            [sys.executable, "spark_jobs/linkgraph_job.py",
             "--input", inp, "--warehouse", wh, "--batch-id", batch,
             "--compute-authority"],
            **common,
        )

    p1 = run(b1, "batch-1")
    assert p1.returncode == 0, p1.stderr[-2000:]
    p2 = run(b2, "batch-2")
    assert p2.returncode == 0, p2.stderr[-2000:]

    head = os.path.join(wh, "_HEAD")
    head_after_2 = open(head).read().strip()
    manifest = json.load(open(os.path.join(wh, "_manifests", head_after_2)))
    assert set(manifest["tables"]) == {
        "link_graph", "link_graph_lineage", "host_authority"
    }

    # maintained graph ≡ one-shot over both batches (in-session twin)
    from mistral_ocr_pipeline_spark.operators.htmllinks import link_graph

    oneshot = link_graph(
        spark.createDataFrame(
            pages(0, 90), "doc_id long, html string, src_host string"
        ),
        "doc_id", "html", "src_host",
    )
    con = duckdb.connect()
    got = sorted(con.execute(
        "SELECT src_host, dst_host, n_links, n_docs, total_anchor_chars,"
        " internal FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["link_graph"])
        + "/*.parquet')"
    ).fetchall())
    assert got == sorted(map(tuple, oneshot.collect()))

    # authority over the merged graph: rank mass sums to ~1
    pr = con.execute(
        "SELECT sum(pagerank) FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["host_authority"])
        + "/*.parquet')"
    ).fetchone()[0]
    assert abs(pr - 1.0) < 1e-6

    # idempotent rerun: no new commit
    p2b = run(b2, "batch-2")
    assert p2b.returncode == 0, p2b.stderr[-2000:]
    assert open(head).read().strip() == head_after_2
    assert "no-op" in p2b.stdout


def test_frontier_job_cli(tmp_path, spark):
    """Incremental frontier maintenance through the spark-submit surface:
    batch 1 bootstraps, batch 2 merges (append ≡ one-shot over both
    batches), the schedule honors trap / blocklist / robots / crawled
    gates, and a rerun of batch 2 is an idempotent no-op."""
    import duckdb
    import pandas as pd

    def links(lo, hi):
        rows = []
        for i in range(lo, hi):
            # tracking-param variants collapse onto one canonical mention
            rows.append(f"https://site{i % 3}.example.com/p/{i % 5}?utm_s=x")
            if i % 4 == 0:
                rows.append(f"https://site{i % 3}.example.com/x/y/x/y/x")
            if i % 5 == 0:
                rows.append(f"https://ads.bad.net/z/{i % 3}")
            if i % 6 == 0:
                rows.append(f"https://site0.example.com/private/{i % 2}")
        return [(u,) for u in rows]

    b1 = str(tmp_path / "fr_b1.parquet")
    b2 = str(tmp_path / "fr_b2.parquet")
    pd.DataFrame(links(0, 30), columns=["url"]).to_parquet(b1, index=False)
    pd.DataFrame(links(30, 70), columns=["url"]).to_parquet(b2, index=False)
    robots = str(tmp_path / "fr_robots.parquet")
    pd.DataFrame(
        [("site0.example.com", "User-agent: *\nDisallow: /private/")],
        columns=["host", "robots_txt"],
    ).to_parquet(robots, index=False)
    wh = str(tmp_path / "wh_fr")
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)

    def run(inp, batch):
        return subprocess.run(
            [sys.executable, "spark_jobs/frontier_job.py",
             "--input", inp, "--warehouse", wh, "--batch-id", batch,
             "--block-host", "bad.net", "--robots", robots],
            **common,
        )

    p1 = run(b1, "batch-1")
    assert p1.returncode == 0, p1.stderr[-2000:]

    # a fetcher marks one URL crawled between batches
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, wh)
    crawled = spark.createDataFrame(
        [("https://site1.example.com/p/1",)], "canon_url string"
    )
    cat.commit({"crawled": cat.stage_overwrite(crawled, "crawled")})

    p2 = run(b2, "batch-2")
    assert p2.returncode == 0, p2.stderr[-2000:]

    head = os.path.join(wh, "_HEAD")
    head_after_2 = open(head).read().strip()
    manifest = json.load(open(os.path.join(wh, "_manifests", head_after_2)))
    assert {"frontier", "crawl_schedule", "frontier_lineage"} <= set(
        manifest["tables"]
    )

    # maintained frontier ≡ one-shot facts over both batches
    from mistral_ocr_pipeline_spark.operators.urls import frontier_facts

    oneshot = frontier_facts(
        spark.createDataFrame(links(0, 70), "url string"), "url"
    )
    con = duckdb.connect()
    got = sorted(con.execute(
        "SELECT canon_url, host, n_mentions FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["frontier"])
        + "/*.parquet')"
    ).fetchall())
    assert got == sorted(map(tuple, oneshot.collect()))

    sched = con.execute(
        "SELECT canon_url, host, wave FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["crawl_schedule"])
        + "/*.parquet')"
    ).fetchall()
    urls = {r[0] for r in sched}
    assert urls  # non-empty schedule
    assert not any("/x/y/x" in u for u in urls)  # trap gate
    assert not any(r[1].endswith("bad.net") for r in sched)  # blocklist
    assert not any("/private/" in u for u in urls)  # robots gate
    assert "https://site1.example.com/p/1" not in urls  # crawled anti-join
    assert "https://site1.example.com/p/0" in urls  # but siblings schedule
    # per-wave cap: no host exceeds 2 URLs in wave 0
    from collections import Counter
    w0 = Counter(r[1] for r in sched if r[2] == 0)
    assert max(w0.values()) <= 2

    # idempotent rerun: no new commit
    p2b = run(b2, "batch-2")
    assert p2b.returncode == 0, p2b.stderr[-2000:]
    assert open(head).read().strip() == head_after_2
    assert "no-op" in p2b.stdout


def test_boilerplate_job_cli(tmp_path, spark):
    """Incremental host-boilerplate maintenance through the spark-submit
    surface: batch 1 bootstraps, batch 2 merges (facts ≡ one-shot over
    both batches), the restrip compaction equals the one-shot batch
    operator, and a rerun of batch 2 is an idempotent no-op."""
    import duckdb
    import pandas as pd

    def pages(lo, hi):
        rows = []
        for i in range(lo, hi):
            host = f"h{i % 2}"
            t = f"unique prose line {i}"
            if host == "h0" and i % 3 == 0:
                t += "\nshared footer zero!"
            rows.append((i, t, host))
        return rows

    b1 = str(tmp_path / "bp_b1.parquet")
    b2 = str(tmp_path / "bp_b2.parquet")
    cols = ["doc_id", "text", "host"]
    pd.DataFrame(pages(0, 30), columns=cols).to_parquet(b1, index=False)
    pd.DataFrame(pages(30, 70), columns=cols).to_parquet(b2, index=False)
    wh = str(tmp_path / "wh_bp")
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)

    def run(inp, batch, *extra):
        return subprocess.run(
            [sys.executable, "spark_jobs/boilerplate_job.py",
             "--input", inp, "--warehouse", wh, "--batch-id", batch, *extra],
            **common,
        )

    p1 = run(b1, "batch-1")
    assert p1.returncode == 0, p1.stderr[-2000:]
    p2 = run(b2, "batch-2", "--restrip")
    assert p2.returncode == 0, p2.stderr[-2000:]

    head = os.path.join(wh, "_HEAD")
    head_after_2 = open(head).read().strip()
    manifest = json.load(open(os.path.join(wh, "_manifests", head_after_2)))
    assert {"bp_line_facts", "bp_host_totals", "bp_stripped",
            "bp_lineage", "bp_pages", "restripped"} <= set(manifest["tables"])

    from mistral_ocr_pipeline_spark.operators.dedup import (
        host_boilerplate_facts,
        host_boilerplate_strip,
    )

    everything = spark.createDataFrame(
        pages(0, 70), "doc_id long, text string, host string"
    )
    f1, t1 = host_boilerplate_facts(everything, "doc_id", "text", "host")
    con = duckdb.connect()

    def table(name, cols_sql):
        return sorted(con.execute(
            f"SELECT {cols_sql} FROM read_parquet('"
            + os.path.join(wh, manifest["tables"][name])
            + "/*.parquet')"
        ).fetchall())

    assert table("bp_line_facts", "host, k, ndocs") == sorted(
        map(tuple, f1.collect())
    )
    assert table("bp_host_totals", "host, total") == sorted(
        map(tuple, t1.collect())
    )
    # restrip compaction ≡ one-shot batch operator over every page
    oneshot = host_boilerplate_strip(everything, "doc_id", "text", "host")
    assert table(
        "restripped", "id, host, text_clean, n_kept, n_removed"
    ) == sorted(map(tuple, oneshot.collect()))

    p2b = run(b2, "batch-2")
    assert p2b.returncode == 0, p2b.stderr[-2000:]
    assert open(head).read().strip() == head_after_2
    assert "no-op" in p2b.stdout


def test_warc_job_cli(tmp_path):
    """WARC ingest through the spark-submit surface: batch 1 bootstraps
    cdx + extracted pages in one atomic commit, batch 2 appends, and a
    rerun of batch 2 is an idempotent no-op."""
    import duckdb
    import pandas as pd

    CRLF = "\r\n"

    def rec(uri, body, typ="response"):
        return (
            f"WARC/1.0{CRLF}WARC-Type: {typ}{CRLF}WARC-Target-URI: {uri}"
            f"{CRLF}Content-Length: {len(body)}{CRLF}{CRLF}{body}{CRLF}{CRLF}"
        )

    def files(lo, hi):
        rows = []
        for i in range(lo, hi):
            body = (
                f"HTTP/1.1 200 OK{CRLF}{CRLF}"
                f"<html><body><h1>T{i}</h1><p>page body {i} with words"
                "</p></body></html>"
            )
            w = rec(f"https://h/{i}", body) + rec(
                f"https://h/{i}r", f"GET /{i}", typ="request"
            )
            rows.append((i, w))
        return rows

    b1 = str(tmp_path / "w_b1.parquet")
    b2 = str(tmp_path / "w_b2.parquet")
    cols = ["file_id", "warc"]
    pd.DataFrame(files(0, 6), columns=cols).to_parquet(b1, index=False)
    pd.DataFrame(files(6, 15), columns=cols).to_parquet(b2, index=False)
    wh = str(tmp_path / "wh_warc")
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)

    def run(inp, batch):
        return subprocess.run(
            [sys.executable, "spark_jobs/warc_job.py",
             "--input", inp, "--warehouse", wh, "--batch-id", batch,
             "--extract"],
            **common,
        )

    p1 = run(b1, "batch-1")
    assert p1.returncode == 0, p1.stderr[-2000:]
    p2 = run(b2, "batch-2")
    assert p2.returncode == 0, p2.stderr[-2000:]

    head = os.path.join(wh, "_HEAD")
    head_after_2 = open(head).read().strip()
    manifest = json.load(open(os.path.join(wh, "_manifests", head_after_2)))
    assert {"cdx", "pages", "warc_lineage"} <= set(manifest["tables"])

    con = duckdb.connect()
    cdx = con.execute(
        "SELECT target_uri FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["cdx"]) + "/*.parquet')"
    ).fetchall()
    assert len(cdx) == 15  # responses only, both batches
    pages = con.execute(
        "SELECT file_id, extracted_text FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["pages"]) + "/*.parquet')"
        " ORDER BY file_id"
    ).fetchall()
    assert len(pages) == 15
    assert pages[3][1].startswith("T3")

    p2b = run(b2, "batch-2")
    assert p2b.returncode == 0, p2b.stderr[-2000:]
    assert open(head).read().strip() == head_after_2
    assert "no-op" in p2b.stdout


def test_contract_job_cli(tmp_path):
    """Contract enforcement through the spark-submit surface: a clean
    batch records and passes; a null-heavy second batch passes ALONE
    but tips the corpus cap — the job records both scopes and exits 3
    under --fail-on-violation; a rerun is an idempotent no-op."""
    import duckdb
    import pandas as pd

    def batch(lo, hi, null_every):
        return [
            (i, None if (null_every and i % null_every == 0) else f"t {i}")
            for i in range(lo, hi)
        ]

    b1 = str(tmp_path / "c_b1.parquet")
    b2 = str(tmp_path / "c_b2.parquet")
    cols = ["doc_id", "text"]
    pd.DataFrame(batch(0, 80, 0), columns=cols).to_parquet(b1, index=False)
    # batch 2: 11 nulls in 22 rows (50% alone); corpus 11/102 = 10.78%
    # — strictly over the 10% cap (10/100 would sit AT the inclusive cap)
    pd.DataFrame(batch(80, 102, 2), columns=cols).to_parquet(
        b2, index=False
    )
    contract = str(tmp_path / "contract.json")
    import json as _json

    _json.dump([["text", "null_frac_micro", "le", 100000]], open(contract, "w"))
    wh = str(tmp_path / "wh_ct")
    env = _job_env()
    common = dict(cwd="/root/repo", env=env, capture_output=True, text=True,
                  timeout=400)

    def run(inp, bid):
        return subprocess.run(
            [sys.executable, "spark_jobs/contract_job.py",
             "--input", inp, "--warehouse", wh, "--batch-id", bid,
             "--contract", contract, "--fail-on-violation"],
            **common,
        )

    p1 = run(b1, "batch-1")
    assert p1.returncode == 0, p1.stderr[-2000:]

    p2 = run(b2, "batch-2")
    assert p2.returncode == 3, (p2.returncode, p2.stdout, p2.stderr[-1500:])
    assert "corpus_violations" in p2.stdout and "text" in p2.stdout

    head = os.path.join(wh, "_HEAD")
    head_after_2 = open(head).read().strip()
    manifest = json.load(open(os.path.join(wh, "_manifests", head_after_2)))
    con = duckdb.connect()
    corpus = con.execute(
        "SELECT \"column\", observed, passed FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["contract_verdicts"])
        + "/*.parquet')"
    ).fetchall()
    assert corpus == [("text", (11 * 1000000) // 102, False)]
    bv = con.execute(
        "SELECT batch_id, passed FROM read_parquet('"
        + os.path.join(wh, manifest["tables"]["batch_verdicts"])
        + "/*.parquet') ORDER BY batch_id"
    ).fetchall()
    assert bv[0] == ("batch-1", True)
    assert bv[1][0] == "batch-2" and not bv[1][1]  # 50% alone

    p2b = run(b2, "batch-2")
    assert p2b.returncode == 0 and "no-op" in p2b.stdout
    assert open(head).read().strip() == head_after_2
