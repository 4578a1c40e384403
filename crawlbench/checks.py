"""Independent output checks. They read what the program wrote with DuckDB
and pyarrow (not Spark) and recompute each property from the inputs:

- crawl: equality with the sequential simulator (tests/reference_sim.py)
  on the same seeds, robots rules and rounds; the politeness bound;
  seen/fetched conservation; content rows against the page table's kind;
- batch: every page's text against this file's own copy of the
  reference kernel; distinct-text count against the exact-dedup groups;
  every reported near-duplicate pair's Jaccard recomputed from shingles.

Each check returns a list of problems (empty when it holds).
"""

from __future__ import annotations

import glob
import os
import re
from urllib.parse import urlsplit

import duckdb
import pandas as pd

# The reference kernel (tools/crawler_util.py:194-203 of the reference):
# drop script/style elements, then every tag, then strip.
_SCRIPT_STYLE = re.compile(r"<(script|style)[^>]*>.*?</\1>", re.DOTALL)
_TAG = re.compile(r"<[^>]+>")
# Java's \s, which the program's tokenizer splits on
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def reference_text(html: bytes | None) -> str:
    if not html:
        return ""
    s = html.decode("utf-8")
    return _TAG.sub("", _SCRIPT_STYLE.sub("", s)).strip()


def _files(ckpt: str, table: str) -> list[str]:
    return sorted(glob.glob(os.path.join(ckpt, "round=*", "deltas", f"tbl={table}", "*.parquet")))


def crawl_table(con, ckpt: str, table: str, cols: str) -> list[tuple]:
    files = _files(ckpt, table)
    if not files:
        return []
    return con.execute(
        f"SELECT {cols} FROM read_parquet(?, hive_partitioning=false)", [files]
    ).fetchall()


def crawl_counts(ckpt: str, from_round: int = 0) -> dict:
    """Row counts of the crawl's output tables, rounds >= ``from_round``."""
    con = duckdb.connect()
    out = {}
    for t in ("content", "comments", "tieba_notes", "zhihu_comments", "seen", "denied", "failed"):
        files = _files(ckpt, t)
        out[t] = con.execute(
            "SELECT count(*) FROM read_parquet(?, hive_partitioning=false) WHERE round_id >= ?",
            [files, from_round],
        ).fetchone()[0] if files else 0
    m = crawl_table(con, ckpt, "metrics", "round_id, host, scheduled, fetched, failed")
    out["metrics"] = m
    return out


def check_crawl(ckpt: str, pages_dir: str, seeds_rows: list[dict], robots_rows: list[dict],
                rounds: int) -> tuple[list[str], dict]:
    """All crawl checks; returns (problems, operation counts)."""
    import pyarrow.dataset as ds

    from tests.reference_sim import simulate

    problems: list[str] = []
    con = duckdb.connect()
    pages_glob = os.path.join(pages_dir, "*.parquet")

    # --- the sequential simulator on the same inputs
    pages_rows = ds.dataset(pages_dir, format="parquet").to_table(columns=["url", "html"]).to_pylist()
    sim = simulate(pages_rows, seeds_rows, robots_rows, max_rounds=rounds)
    del pages_rows
    got = {
        "seen": {r[0] for r in crawl_table(con, ckpt, "seen", "url")},
        "denied": {r[0] for r in crawl_table(con, ckpt, "denied", "url")},
        "failed": {r[0] for r in crawl_table(con, ckpt, "failed", "url")},
        "content": set(crawl_table(
            con, ckpt, "content",
            "note_id, ord_keyword, ord_page, ord_item_idx, ord_cursor_seq")),
        "comments": set(crawl_table(
            con, ckpt, "comments",
            "comment_id, note_id, parent_comment_id, ord_cursor_seq, ord_item_idx")),
        "tieba_notes": set(crawl_table(
            con, ckpt, "tieba_notes",
            "note_id, title, \"desc\", user_nickname, ip_location, publish_time, "
            "total_replay_num, total_replay_page, ord_keyword, ord_page, ord_item_idx, "
            "ord_cursor_seq")),
        "zhihu_comments": set(crawl_table(
            con, ckpt, "zhihu_comments",
            "comment_id, parent_comment_id, content, publish_time, ip_location, "
            "sub_comment_count, like_count, dislike_count, content_id, user_id, "
            "user_nickname, ord_cursor_seq, ord_item_idx")),
    }
    for name, engine_set in got.items():
        want = getattr(sim, name)
        if engine_set != want:
            problems.append(
                f"{name}: engine {len(engine_set)} vs simulator {len(want)} "
                f"({len(engine_set - want)} extra, {len(want - engine_set)} missing)")
    if sim.rounds != rounds:
        problems.append(f"simulator ran {sim.rounds} rounds, expected {rounds}")

    # --- politeness: per-(round, host) budget, nothing fetched from a denied host
    budget = {r["host"]: r["max_per_round"] for r in robots_rows}
    denied_hosts = {r["host"] for r in robots_rows if not r["allow"]}
    metrics = crawl_table(con, ckpt, "metrics", "round_id, host, scheduled, fetched, failed")
    over = [(rid, h, s) for rid, h, s, _, _ in metrics if s > budget.get(h, 200)]
    if over:
        problems.append(f"politeness: {len(over)} (round, host) pairs over budget, e.g. {over[0]}")
    bad_host = [u for u in got["seen"] if urlsplit(u).hostname in denied_hosts]
    if bad_host:
        problems.append(f"politeness: {len(bad_host)} seen urls on denied hosts, e.g. {bad_host[0]}")

    # --- conservation: every fetch is a new url; content rows = seen ∩ content pages
    seen_rows = crawl_table(con, ckpt, "seen", "url")
    fetched = sum(m[3] for m in metrics)
    if fetched != len(got["seen"]) or len(seen_rows) != len(got["seen"]):
        problems.append(
            f"conservation: sum(fetched)={fetched}, seen rows={len(seen_rows)}, "
            f"distinct seen={len(got['seen'])}")
    seen_files = _files(ckpt, "seen")
    n_content_pages = con.execute(
        "SELECT count(DISTINCT s.url) FROM read_parquet(?, hive_partitioning=false) s "
        f"JOIN read_parquet('{pages_glob}') p ON s.url = p.url WHERE p.kind = 'content'",
        [seen_files],
    ).fetchone()[0] if seen_files else 0
    n_content_rows = len(crawl_table(con, ckpt, "content", "url"))
    if n_content_rows != n_content_pages:
        problems.append(f"conservation: {n_content_rows} content rows for {n_content_pages} "
                        "fetched content pages")

    # --- operations: a scheduled url fails if it ends failed or is lost
    scheduled = sum(m[2] for m in metrics)
    frontier = _files(ckpt, "frontier")
    last = [f for f in frontier if f"round={rounds - 1:05d}" in f]
    pending = con.execute(
        "SELECT count(*) FROM read_parquet(?, hive_partitioning=false) "
        "WHERE attempts > 0 AND state = 'open'", [last]
    ).fetchone()[0] if last else 0
    lost = scheduled - len(got["seen"]) - len(got["failed"]) - pending
    if lost < 0:
        problems.append(f"conservation: {-lost} more urls accounted for than scheduled")
    ops = {"attempted": scheduled, "failed": len(got["failed"]) + max(lost, 0)}
    return problems, ops


def check_batch(out_dir: str, pool_dir: str, n_selected: int, threshold: float) -> tuple[list[str], dict]:
    """Batch-extraction checks for one pass; returns (problems, op counts)."""
    problems: list[str] = []
    con = duckdb.connect()
    text_glob = os.path.join(out_dir, "text", "*.parquet")
    pool_glob = os.path.join(pool_dir, "*.parquet")

    # --- every page's text against the reference kernel
    n_rows, n_urls = con.execute(
        f"SELECT count(*), count(DISTINCT url) FROM read_parquet('{text_glob}')").fetchone()
    rows = con.execute(
        f"SELECT t.text, p.html FROM read_parquet('{text_glob}') t "
        f"JOIN read_parquet('{pool_glob}') p ON t.url = p.url"
    ).fetch_arrow_table()
    texts, htmls = rows.column(0).to_pylist(), rows.column(1).to_pylist()
    mismatched = sum(1 for t, h in zip(texts, htmls) if t != reference_text(h))
    del texts, htmls, rows
    missing = n_selected - n_urls
    if n_rows != n_urls or missing != 0:
        problems.append(f"pages: {n_selected} selected, {n_rows} text rows, {n_urls} distinct urls")

    # --- exact dedup: one group per distinct normalized content text
    content = (f"FROM read_parquet('{text_glob}') t JOIN read_parquet('{pool_glob}') p "
               "ON t.url = p.url WHERE p.kind = 'content'")
    n_content, n_distinct = con.execute(
        "SELECT count(*), count(DISTINCT regexp_replace(lower(trim(t.text)), "
        f"'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) {content}").fetchone()
    n_groups, n_members = con.execute(
        "SELECT count(*), coalesce(sum(n_dups), 0) FROM read_parquet(?)",
        [os.path.join(out_dir, "exact", "*.parquet")]).fetchone()
    if (n_groups, n_members) != (n_distinct, n_content):
        problems.append(f"exact dedup: {n_groups} groups over {n_members} docs; DuckDB finds "
                        f"{n_distinct} distinct texts over {n_content} content pages")

    # --- near-dup pairs: recompute the shingle Jaccard of every reported pair
    pairs = con.execute(
        "SELECT doc_a, doc_b, jaccard FROM read_parquet(?)",
        [os.path.join(out_dir, "near", "*.parquet")]).fetchall()
    if pairs:
        ids = sorted({a for a, _, _ in pairs} | {b for _, b, _ in pairs})
        con.register("ids", pd.DataFrame({"doc_id": ids}))
        doc_text = dict(con.execute(
            f"SELECT p.doc_id, t.text {content} AND p.doc_id IN (SELECT doc_id FROM ids)"
        ).fetchall())
        bad = 0
        for a, b, j in pairs:
            sa, sb = _shingles(doc_text.get(a)), _shingles(doc_text.get(b))
            union = len(sa | sb)
            exact = len(sa & sb) / union if union else 0.0
            if exact < threshold or abs(round(exact, 6) - j) > 1e-6:
                bad += 1
        if bad:
            problems.append(f"near dedup: {bad} of {len(pairs)} pairs below threshold "
                            "or with a wrong Jaccard")
    ops = {"attempted": n_selected, "failed": mismatched + max(missing, 0)}
    counts = {"content": n_content, "exact_groups": n_groups, "near_pairs": len(pairs)}
    return problems, {**ops, **counts}


def _shingles(text: str | None, n: int = 3) -> set:
    toks = [t.lower() for t in _JAVA_WS.split((text or "").strip(" ")) if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
