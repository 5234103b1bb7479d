"""Seeded transcript tables for the benchmark workloads.

The seed picks the conversation offset into the repo's own generator
(``data.synthetic.gen_conversation``) and, for the long-text workload,
the prose RNG. The table is cut to exactly ``n_turns`` turns so every
seed gives the same amount of work. The engine only ever sees the
parquet file written here.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from glean_cetaf_rdfs_spark.data.synthetic import gen_conversation

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# Timestamps are written as microseconds: read_transcripts' explicit
# schema rejects pandas' default nanosecond INT64 timestamps.
ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

MAX_OFFSET = 900_000
PROSE_SHARE = 0.9
# Lower-case words only: no digits, '=', quotes, '<' or "http", so no
# extraction rule (URL, coordinates, collection code, note, media,
# recordedby, eventtype) can fire on prose.
_WORDS = (
    "the specimen was collected near a river bank during the spring survey "
    "and later catalogued by the herbarium staff who noted leaf shape stem "
    "colour flower count and the soil type where it grew our team compared "
    "these records with older field notes from several museums to check "
    "whether names dates and localities agree before we publish a summary "
    "for curators researchers and students interested in regional flora "
    "fauna insects fungi mosses lichens birds mammals reptiles fishes "
    "seeds fruits roots bark pollen habitat elevation slope forest meadow "
    "wetland coast island valley ridge canyon desert tundra lake stream"
).split()
_PROSE_WORDS_LO, _PROSE_WORDS_HI = 60, 318  # ~1.2 kB per prose turn
_URL = re.compile(r"https?://")


def conversation_offset(seed: int) -> int:
    return int(np.random.RandomState(seed).randint(0, MAX_OFFSET))


def mixed_turns(seed: int, n_turns: int) -> pd.DataFrame:
    """Exactly ``n_turns`` generator turns starting at the seed's offset
    (the last conversation is cut to a prefix of its turns)."""
    rows: list[dict] = []
    i = conversation_offset(seed)
    while len(rows) < n_turns:
        rows.extend(gen_conversation(i))
        i += 1
    pdf = pd.DataFrame(rows[:n_turns], columns=COLUMNS)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def with_prose(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Replace ~90% of turns' text with seeded, mention-free prose."""
    rng = np.random.RandomState([seed, 1])
    replace = rng.rand(len(pdf)) < PROSE_SHARE
    n_words = rng.randint(_PROSE_WORDS_LO, _PROSE_WORDS_HI, size=int(replace.sum()))
    idx = rng.randint(len(_WORDS), size=int(n_words.sum())).tolist()
    words = [_WORDS[j] for j in idx]
    bounds = np.concatenate([[0], np.cumsum(n_words)]).tolist()
    prose = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    out = pdf.copy()
    out.loc[replace, "text"] = prose
    return out


def make_input(workload: str, seed: int, n_turns: int) -> pd.DataFrame:
    pdf = mixed_turns(seed, n_turns)
    if workload == "oneshot_longtext":
        pdf = with_prose(pdf, seed)
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(ARROW_SCHEMA)
    pq.write_table(table, path)


def input_stats(pdf: pd.DataFrame) -> dict:
    texts = pdf["text"].tolist()
    with_url = sum(1 for t in texts if _URL.search(t))
    return {
        "turns": len(pdf),
        "conversations": int(pdf["conv_id"].nunique()),
        "text_bytes": sum(len(t.encode()) for t in texts),
        "url_turn_share": with_url / len(pdf),
    }
