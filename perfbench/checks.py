"""Output checks shared by the workloads."""

import json
import os

SCORE_TOL = 1e-9


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def manifest_counts(index_dir: str) -> tuple[int, int]:
    """(blocks, postings) summed over the posting groups of a
    ``write_index`` manifest."""
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        stages = json.load(f)["stages"]
    groups = [v for k, v in stages.items() if k.startswith("postings_group_")]
    return (sum(g["blocks"] for g in groups),
            sum(g["postings"] for g in groups))


def manifest_problems(index_dir: str) -> list[str]:
    """A ``write_index`` directory is whole when its manifest says
    complete, lists every stage, and the term dictionary's document
    frequencies add up to the postings the manifest counted."""
    import pyarrow.parquet as pq

    from searchengine_spark.index.shards import RESUME_GROUPS

    with open(os.path.join(index_dir, "_manifest.json")) as f:
        man = json.load(f)
    want = {"docs", "termdict", "mergeinfo",
            *(f"postings_group_{g}" for g in range(RESUME_GROUPS))}
    problems = []
    if not man.get("complete"):
        problems.append(f"{index_dir}: manifest not complete")
    missing = want - {k for k, v in man["stages"].items()
                      if v.get("status") == "done"}
    if missing:
        problems.append(f"{index_dir}: stages not done: {sorted(missing)}")
        return problems
    sum_df = pq.read_table(os.path.join(index_dir, "termdict"),
                           columns=["df"]).column("df").to_numpy().sum()
    _, postings = manifest_counts(index_dir)
    if int(sum_df) != postings:
        problems.append(f"{index_dir}: termdict sum(df) {int(sum_df)} != "
                        f"manifest postings {postings}")
    return problems


def same_topk(got, expect) -> bool:
    """``got`` and ``expect`` are [(rank, docid, score)]: ranks and docids
    must match exactly, scores within SCORE_TOL."""
    got, expect = sorted(got), sorted(expect)
    return len(got) == len(expect) and all(
        g[0] == e[0] and g[1] == e[1] and abs(g[2] - e[2]) <= SCORE_TOL
        for g, e in zip(got, expect))
