"""The dedup-intake probe of the traced ``corpus_curation`` run.

Seeded epochs of the query tables' ``documents`` go, in order, through
``streaming.events.minhash_epoch`` against a fresh state directory:
the continuous near-duplicate intake, with its writes and its growing
standing state (admitted corpus + band-signature index).

Inputs (made once per seed, outside every timed window): each document
goes to the epoch a seeded hash of its ``doc_id`` picks; from the
second epoch on, an epoch also re-offers a seeded tenth of the earlier
epochs' documents with one word appended, as near-duplicates the
intake should refuse.

Gates (untimed): no two admitted rows share a text md5 in the final
state, counted by DuckDB over the written parquet; and the admitted
ids of every epoch equal those the first run of this seed stored for
this program version.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import statistics
import time

EPOCHS = 10
RESEND_SHARE = 0.1
RESEND_WORDS = "again updated mirror copy".split()


def make_epochs(docs_path: str, out_dir: str, seed: int) -> None:
    """Write ``epoch-NN.parquet`` (doc_id, text) for NN < EPOCHS."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pylist()
    rng = random.Random(seed)
    epochs: list[list[dict]] = [[] for _ in range(EPOCHS)]
    for row in docs:
        h = hashlib.md5(f"{seed}:{row['doc_id']}".encode()).digest()
        epochs[int.from_bytes(h[:8], "big") % EPOCHS].append(row)
    next_id = max(row["doc_id"] for row in docs) + 1
    offered: list[dict] = []
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    os.makedirs(out_dir)
    for e, rows in enumerate(epochs):
        resent = []
        for src in rng.sample(offered, min(len(offered), round(len(rows) * RESEND_SHARE))):
            resent.append({
                "doc_id": next_id,
                "text": f"{src['text']} {rng.choice(RESEND_WORDS)}",
            })
            next_id += 1
        offered.extend(rows)
        pq.write_table(
            pa.Table.from_pylist(rows + resent, schema=schema),
            os.path.join(out_dir, f"epoch-{e:02d}.parquet"),
        )


def epoch_files(epochs_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(epochs_dir, "epoch-*.parquet")))


def offered_rows(epochs_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in epoch_files(epochs_dir))


def duplicate_texts(state_dir: str) -> int:
    """Admitted rows whose text md5 another admitted row shares."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT count(*) - count(DISTINCT md5(text)) FROM read_parquet("
            f"'{os.path.join(state_dir, 'corpus', '*', '*.parquet')}')"
        ).fetchone()[0]
    finally:
        con.close()


class Intake:
    """One pass of every epoch through ``minhash_epoch``; the caller
    runs ``body`` as one operation and reads the metrics after."""

    def __init__(self, epochs_dir: str, state_dir: str):
        self.epochs_dir = epochs_dir
        self.state_dir = state_dir
        self.epoch_s: list[float] = []
        self.admitted: list[list[int]] = []

    def body(self, run, same_as_reference):
        """Run the epochs (timed); return the untimed gate, which gets
        ``same_as_reference(admitted_digests)``'s verdict too."""
        from umls2rdf_spark.streaming import events

        for e, path in enumerate(epoch_files(self.epochs_dir)):
            batch = run.spark.read.parquet(path)
            t0 = time.perf_counter()
            with run.tracer.span("streaming.epoch"):
                out = events.minhash_epoch(batch, e, self.state_dir)
            self.epoch_s.append(time.perf_counter() - t0)
            self.admitted.append(sorted(r[0] for r in out.select("doc_id").collect()))

        def check():
            dups = duplicate_texts(self.state_dir)
            if dups:
                return f"{dups} admitted rows repeat an admitted text"
            return same_as_reference(self.reference_value())

        return check

    def reference_value(self) -> list[str]:
        """One digest of the sorted admitted ids per epoch."""
        return [hashlib.md5(repr(ids).encode()).hexdigest() for ids in self.admitted]

    def metrics(self) -> dict[str, float]:
        state = sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(self.state_dir, "**"), recursive=True)
            if os.path.isfile(p)
        )
        return {
            "streaming.epoch_s": statistics.median(self.epoch_s),
            "streaming.intake_s": sum(self.epoch_s),
            "streaming.state_mb": state / (1024 * 1024),
            "streaming.admit_ratio":
                sum(map(len, self.admitted)) / offered_rows(self.epochs_dir),
        }
