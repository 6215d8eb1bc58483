"""Correctness checks run outside the timed regions.

Answers are compared against ``sparkfts.oracle.BM25Oracle`` (a brute-force
BM25 written from the spec) and across legs that must agree: rank-identical
docids and scores within ``SCORE_TOL``.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

SCORE_TOL = 1e-9


def same_answer(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Rank-identical (docid, score) frames, scores within SCORE_TOL."""
    gd = np.asarray(got["docid"], dtype=np.int64) if len(got) else []
    wd = np.asarray(want["docid"], dtype=np.int64) if len(want) else []
    if len(gd) != len(wd) or not np.array_equal(gd, wd):
        return False
    if not len(gd):
        return True
    gs = np.asarray(got["score"], dtype=np.float64)
    ws = np.asarray(want["score"], dtype=np.float64)
    return bool(np.max(np.abs(gs - ws)) <= SCORE_TOL)


def same_documents(got: pd.DataFrame, got_rows: pd.DataFrame,
                   want: pd.DataFrame, want_rows: pd.DataFrame,
                   cols=("conv_id", "turn_idx", "text")) -> bool:
    """Same scores and the same docstore rows, in rank order, for two
    answers whose docid spaces may differ."""
    if len(got) != len(want):
        return False
    if not len(got):
        return True
    gs = np.asarray(got["score"], dtype=np.float64)
    ws = np.asarray(want["score"], dtype=np.float64)
    if np.max(np.abs(gs - ws)) > SCORE_TOL:
        return False

    def ranked(ans, rows):
        by_id = rows.set_index("docid")
        sel = by_id.loc[np.asarray(ans["docid"], dtype=np.int64), list(cols)]
        return [tuple(r) for r in sel.itertuples(index=False)]

    return ranked(got, got_rows) == ranked(want, want_rows)


def oracle_corpus(parts) -> tuple[np.ndarray, pd.DataFrame]:
    """Concatenate (docid_offset, pyarrow table) generations into the
    oracle's (docids, rows) in docid order. Within a generation docids
    follow (conv_id, turn_idx) rank, the build's ordering."""
    ids, frames = [], []
    for off, tbl in parts:
        pdf = (tbl.select(["conv_id", "turn_idx", "text"]).to_pandas()
               .sort_values(["conv_id", "turn_idx"], kind="stable")
               .reset_index(drop=True))
        ids.append(off + np.arange(len(pdf), dtype=np.int64))
        frames.append(pdf)
    docids = np.concatenate(ids)
    rows = pd.concat(frames, ignore_index=True)
    rows.insert(0, "docid", docids)
    return docids, rows
