"""Output checks for one CLI run. Each returns a list of problems (empty
when the output is correct). Outputs are read with pyarrow, not Spark.

- ``check_oracle`` (webtext_* workloads): the output matches the per-row
  Python oracle ``testing.oracle.oracle_labels`` row for row: the kept
  set, ``dc_rule_id`` of every kept and dropped document, byte-identical
  ``scrubbed_text``, ``counters.csv`` and both url lists.
- ``check_invariants`` (full_curation): properties any correct run of
  ``recipes/full_curation.toml`` has. Kept and dropped urls are disjoint
  subsets of the input, no blocklisted url survives, no category keeps
  more than ``domain_cap`` rows, and ``docs_seen`` counts every document
  that reached the rule chain with text.

Both fail a run that keeps no document or drops none: such a corpus
measures nothing.
"""

from __future__ import annotations

import csv
import glob
import os

import pandas as pd
import pyarrow.parquet as pq


def _table(out_dir: str, name: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(out_dir, name)).to_pandas()


def _lines(out_dir: str, name: str) -> list[str]:
    out: list[str] = []
    for f in sorted(glob.glob(os.path.join(out_dir, name, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            out.extend(line.rstrip("\n") for line in fh)
    return out


def _counters(out_dir: str) -> dict[str, int]:
    with open(os.path.join(out_dir, "counters.csv")) as fh:
        return {r["name"]: int(r["count"]) for r in csv.DictReader(fh)}


def _nonempty(kept: int, dropped: int) -> list[str]:
    out = []
    if kept == 0:
        out.append("kept no document")
    if dropped == 0:
        out.append("dropped no document")
    return out


def oracle_labels(docs: pd.DataFrame, recipe_path: str, workers: int = 4) -> pd.DataFrame:
    """``oracle_labels`` over the distinct texts of ``docs`` (every
    condition of the webtext recipe reads only the text), in ``workers``
    processes; returns (url, keep, rule_id, scrubbed_text) per row of
    ``docs``."""
    import gc
    from multiprocessing import get_context, resource_tracker

    texts = docs["text"].drop_duplicates().reset_index(drop=True)
    uniq = pd.DataFrame({"url": texts.index.astype(str), "text": texts})
    chunks = [uniq.iloc[i::workers] for i in range(workers)]
    with get_context("spawn").Pool(workers) as pool:
        parts = pool.starmap(_oracle_chunk, [(c, recipe_path) for c in chunks])
    # the pool's locks started multiprocessing's resource tracker process:
    # free the locks, then stop the tracker and wait for it here rather than
    # let it outlive the benchmark
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    lab = pd.concat(parts)
    lab["text"] = uniq.set_index("url").loc[lab["url"], "text"].to_numpy()
    merged = docs[["url", "text"]].merge(
        lab.drop(columns="url"), on="text", how="left", validate="many_to_one"
    )
    return merged.drop(columns="text")


def _oracle_chunk(chunk: pd.DataFrame, recipe_path: str) -> pd.DataFrame:
    from datacurator_jl_spark.recipe import load_recipe
    from datacurator_jl_spark.testing.oracle import oracle_labels as labels

    return labels(chunk, load_recipe(recipe_path))


def check_oracle(out_dir: str, docs: pd.DataFrame, labels: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    kept = _table(out_dir, "kept")
    dropped = _table(out_dir, "drop_log")
    exp = labels.set_index("url")
    exp_kept = exp[exp["keep"]]
    exp_drop = exp[~exp["keep"]]
    if set(kept["url"]) != set(exp_kept.index) or len(kept) != len(exp_kept):
        problems.append(f"kept set differs: {len(kept)} kept, oracle keeps {len(exp_kept)}")
    else:
        k = kept.set_index("url").loc[exp_kept.index]
        bad_rule = (k["dc_rule_id"] != exp_kept["rule_id"]).sum()
        bad_scrub = (k["scrubbed_text"] != exp_kept["scrubbed_text"]).sum()
        if bad_rule:
            problems.append(f"{bad_rule} kept rows with another dc_rule_id")
        if bad_scrub:
            problems.append(f"{bad_scrub} kept rows with another scrubbed_text")
    got_drop = dict(zip(dropped["url"], dropped["dc_rule_id"]))
    if len(got_drop) != len(dropped) or got_drop != exp_drop["rule_id"].to_dict():
        problems.append(f"drop log differs: {len(dropped)} rows, oracle drops {len(exp_drop)}")
    text_len = docs.set_index("url")["text"].str.len()
    want = {
        "docs_seen": int((labels["rule_id"] != "any:0:has_text").sum()),
        "chars_kept": int(text_len.loc[exp_kept.index].sum()),
    }
    if _counters(out_dir) != want:
        problems.append(f"counters {_counters(out_dir)} != oracle {want}")
    if sorted(_lines(out_dir, "list_kept_urls")) != sorted(exp_kept.index):
        problems.append("list_kept_urls differs from the oracle's kept urls")
    if sorted(_lines(out_dir, "list_drop_log")) != sorted(exp_drop.index):
        problems.append("list_drop_log differs from the oracle's dropped urls")
    return problems + _nonempty(len(kept), len(dropped))


def check_invariants(
    out_dir: str, docs: pd.DataFrame, blocklist: list[str], cap: int, cap_col: str
) -> list[str]:
    problems: list[str] = []
    kept = _table(out_dir, "kept")
    dropped = _table(out_dir, "drop_log")
    urls = set(docs["url"])
    k, d = set(kept["url"]), set(dropped["url"])
    if len(k) != len(kept) or len(d) != len(dropped):
        problems.append("a url is kept or dropped twice")
    if not k <= urls or not d <= urls:
        problems.append("output holds a url that is not in the input")
    if k & d:
        problems.append(f"{len(k & d)} urls both kept and dropped")
    if (k | d) & set(blocklist):
        problems.append("a blocklisted url reached the rule chain")
    per_cap = docs[docs["url"].isin(k | d)].groupby(cap_col).size()
    if len(per_cap) and per_cap.max() > cap:
        problems.append(f"{per_cap.idxmax()} has {per_cap.max()} rows > cap {cap}")
    seen = len(kept) + int((dropped["dc_rule_id"] != "any:0:has_text").sum())
    if _counters(out_dir).get("docs_seen") != seen:
        problems.append(f"docs_seen {_counters(out_dir).get('docs_seen')} != {seen}")
    return problems + _nonempty(len(kept), len(dropped))


def output_bytes(out_dir: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(out_dir):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
