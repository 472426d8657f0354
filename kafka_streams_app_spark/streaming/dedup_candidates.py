"""Streaming near-dup CANDIDATE PAIRS at ingest: the incremental twin
of the batch fuzzy-dedup candidate generators (operators/dedup.py's
winnowing/minhash posting-list self-joins).

Reference parity note: the reference app has no fuzzy dedup (its
dedup-adjacent shape is latest-per-key, Topologies.scala) — this is a
north-star training-data-pipeline operator: documents arrive as a
stream, and every unordered pair of documents sharing a winnowing
fingerprint (Schleimer et al., SIGMOD'03) is emitted AS SOON AS the
later member arrives. Downstream, the pair stream feeds the same
verify/cluster stages the batch path uses — i.e. "near-dup dedup at
ingest" instead of a nightly batch self-join.

Shape: a stateless prefix computes each document's distinct winnowing
fingerprints (the Arrow-batched fingerprint-set UDF — same md5 values
as the batch operator's pure-Column path; equality pinned), explodes
to (fp, doc_id) rows, and a
transformWithState operator grouped by a hash bucket of the fingerprint
holds each fingerprint's member list (see _BucketPairsAuto). A new
member emits one (fp, min(a,b), max(a,b)) row per existing member,
then joins the list.

Emission contract (what makes this ORACLE-CHECKABLE despite being
order-sensitive row by row): each unordered pair is emitted EXACTLY
ONCE — when its later member arrives — so the union of all emitted
rows over any micro-batch split of the input is the SAME set: every
(fp, doc_a < doc_b) with both docs carrying fp. That final set is the
batch posting-list self-join, which is the DuckDB oracle. No
watermark needed: set-union is commutative and idempotent here.

State & scale: one member list per OCCUPIED fingerprint —
the same O(corpus fingerprints) footprint as the batch inverted
index, hash-partitioned across executors by fp (RocksDB-backed under
TWS). Emission per bucket is O(df^2) pairs, exactly the batch
self-join's output for that bucket; the measured testdata df max is 4
(sf0.1: 92k buckets, max df 4, ~5k pairs). Production corpora with
boilerplate need the batch path's max_df dial — causally that is a
member CAP: `max_members` freezes a bucket once df exceeds it (later
arrivals emit nothing and are not stored, bounding both state and
output per bucket at O(max_members)); capped semantics are
order-dependent ACROSS the cap boundary, so the oracle entry runs
uncapped and the cap is pinned by a unit test instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_app_spark.streaming.replay import run_stateful

_STATE_SCHEMA = StructType([StructField("members", StringType(), True)])

# Uncapped member lists are O(df^2) pair emission + full-rewrite state
# per arrival; past this df, log loudly (once per power-of-two growth
# step so a hot boilerplate fingerprint can't spam the executor log).
_HOT_BUCKET_WARN = 1024


def _warn_hot_bucket(fp: int, n_before: int, n_after: int,
                     max_members: int | None) -> None:
    # Warn once per power-of-two growth STEP CROSSING (bit_length
    # increase), not on exact equality: bulk batches — the very
    # workload the blob store targets — can jump past every exact
    # power of two in one batch (r13 ADVICE).
    if (
        max_members is None
        and n_after >= _HOT_BUCKET_WARN
        and n_after.bit_length() > n_before.bit_length()
    ):
        import logging

        logging.getLogger(__name__).warning(
            "winnow candidate bucket fp=%d has %d uncapped members "
            "(O(df^2) pair emission); pass max_members to freeze hot "
            "boilerplate buckets", fp, n_after,
        )

# Distinct fingerprints per bucket per micro-batch from which a batch
# counts as bulk and runs on the whole-bucket blob (see _BucketPairsAuto).
_BULK_THRESHOLD = 8

_OUT_SCHEMA = StructType(
    [
        StructField("fp", LongType(), True),
        StructField("doc_a", LongType(), True),
        StructField("doc_b", LongType(), True),
    ]
)


class _BucketPairsAuto(StatefulProcessor):
    """Per-fingerprint member lists over a BUCKETED fingerprint space:
    the TWS grouping key is pmod(xxhash64(fp), n_buckets). TWS pays a
    fixed framework cost PER GROUPING KEY per micro-batch, and this
    operator's raw key space is ~18 fingerprints PER DOCUMENT, so
    bucketing spreads that cost over ~fingerprints/n_buckets
    fingerprints. Rows are (fp, doc_id)-sorted within the bucket, so
    the emitted set — and the oracle — do not depend on the bucketing.

    Each fingerprint's list lives in one of two stores, picked per
    bucket per micro-batch by measured batch density — the number of
    DISTINCT fingerprints the batch touches in this bucket:

    - density >= _BULK_THRESHOLD (bulk/backfill): a whole-bucket
      ValueState blob ("fp:d1,d2;fp2:d3") wins — 2 state round trips
      amortize over many fingerprints; touched MapState entries
      MIGRATE into the blob.
    - density < _BULK_THRESHOLD (trickle): per-entry MapState updates
      win (no whole-bucket rewrite per tiny batch); blob-resident
      fingerprints keep updating in the blob (one rewrite — cheaper
      than a thrash-y migration back).

    Invariant: a fingerprint's member list lives in EXACTLY ONE store
    (blob wins lookups; migration deletes the MapState entry in the
    same batch), so the pair logic — and the emitted set, and the
    oracle — are unchanged across arbitrary trickle/bulk interleaving.
    The state names ('buckets' / 'members') are those of the earlier
    single-store blob and map layouts, so their checkpoints resume here.

    Threshold: map-mode cost is ~2 state-server RPCs per touched
    fingerprint; blob-mode is 2 RPCs + an O(bucket) blob rewrite. The
    r13 attribution measured the RPC term dominating from tens of
    fingerprints per bucket per batch (SCALE.md); 8 is conservatively
    below that knee and measured to hold the blob store's bulk
    throughput while keeping trickle at MapState rates
    (tools/stream_throughput.py fixtures).

    Trickle-batch blob cost (r14 ADVICE): the blob is parsed LAZILY —
    a trickle batch probes MapState first (1 RPC per fp; under the
    exactly-one-store invariant a map hit proves the fp is not
    blob-resident) and only parses the blob on the first map MISS, so
    a pure-trickle batch touching only map-resident fingerprints never
    reads the blob at all. The residual honest cost: once anything has
    migrated to the blob, a trickle batch that touches a blob-resident
    (or brand-new) fingerprint pays one O(blob) parse, and one
    O(blob) rewrite if a blob-resident list changed — inherent to the
    one-blob-per-bucket store.
    """

    def __init__(self, max_members: int | None = None):
        self.max_members = max_members

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.blob = handle.getValueState("buckets", _STATE_SCHEMA)
        self.map = handle.getMapState(
            "members",
            StructType([StructField("fp", LongType(), True)]),
            _STATE_SCHEMA,
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows)).sort_values(
            ["fp", "doc_id"], kind="stable"
        )
        fps = pdf["fp"].to_numpy()
        docs = pdf["doc_id"].to_numpy()
        n = len(fps)
        bulk = len(pdf["fp"].unique()) >= _BULK_THRESHOLD
        # The blob is parsed LAZILY (r14 ADVICE): bulk batches need it
        # up front (they migrate into it); trickle batches probe
        # MapState first and only parse on the first map miss, so a
        # pure-trickle batch touching only map-resident fps costs zero
        # blob reads.
        table: dict[int, list[int]] | None = None if not bulk else {}

        def parse_blob() -> dict[int, list[int]]:
            t: dict[int, list[int]] = {}
            if self.blob.exists():
                for ent in self.blob.get()[0].split(";"):
                    if ent:
                        f, _, ms = ent.partition(":")
                        t[int(f)] = [int(x) for x in ms.split(",") if x]
            return t

        if bulk:
            table = parse_blob()
        # Bulk batches must NOT probe MapState per fingerprint (that is
        # exactly the 2-RPCs-per-fp cost the blob store exists to
        # avoid — measured 4x slower when they did): ONE streamed
        # iterator() pass yields every map-resident entry, and on a
        # pure-bulk history (nothing ever trickled in) it is empty.
        map_snapshot: dict[int, tuple] | None = None
        if bulk:
            map_snapshot = {int(k[0]): v for k, v in self.map.iterator()}
        out: list[tuple[int, int, int]] = []
        blob_changed = False
        i = 0
        while i < n:
            fp = int(fps[i])
            if bulk:
                in_blob = fp in table
                cur = (
                    None if in_blob else map_snapshot.get(fp)
                )
            else:
                # trickle: map first (a hit proves non-blob-residency
                # under the exactly-one-store invariant); parse the
                # blob only on the first miss
                cur = self.map.getValue((fp,))
                if cur is None and table is None:
                    table = parse_blob()
                in_blob = cur is None and fp in table
            members: list[int] = (
                table[fp] if in_blob
                else [int(x) for x in cur[0].split(",") if x]
                if cur is not None
                else []
            )
            seen = set(members)
            n_before = len(members)
            changed = False
            while i < n and fps[i] == fp:
                doc = int(docs[i])
                i += 1
                if doc in seen:
                    continue  # idempotence under re-delivery
                if (
                    self.max_members is not None
                    and len(members) >= self.max_members
                ):
                    continue  # frozen hot bucket
                out.extend((fp, min(m, doc), max(m, doc)) for m in members)
                members.append(doc)
                seen.add(doc)
                changed = True
            _warn_hot_bucket(fp, n_before, len(members), self.max_members)
            if in_blob:
                blob_changed = blob_changed or changed
            elif bulk and (changed or cur is not None):
                # migrate map -> blob (exactly-one-store invariant)
                if cur is not None:
                    self.map.removeKey((fp,))
                if members:
                    table[fp] = members
                    blob_changed = True
            elif changed:
                self.map.updateValue(
                    (fp,), (",".join(str(x) for x in members),)
                )
        if blob_changed:
            self.blob.update((";".join(
                f"{f}:{','.join(str(x) for x in ms)}"
                for f, ms in table.items()
            ),))
        if out:
            yield pd.DataFrame(out, columns=["fp", "doc_a", "doc_b"])

    def close(self) -> None:
        pass


def winnow_fingerprints(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """(fp, doc_id) rows: each document's distinct winnowing
    fingerprints (md5 token hashes) from the Arrow-batched
    fingerprint-set UDF (functions/text.py:winnowing_fps_udf; r15
    re-measurement against the CSE-guarded Column form
    winnowing_fingerprints: 1.14 s vs 1.64 s at sf0.1). The two forms
    are value-identical (pinned in tests/test_dedup_candidates_stream).
    """
    from kafka_streams_app_spark.functions.text import winnowing_fps_udf

    fps = winnowing_fps_udf(k, window)(F.col(text))
    return (
        df.select(F.col(id_col).cast("long").alias("doc_id"), fps.alias("_fps"))
        .filter(F.size("_fps") > 0)
        .select("doc_id", F.explode("_fps").alias("fp"))
    )


def _bucketed(fps: DataFrame, n_buckets: int) -> DataFrame:
    return fps.withColumn(
        "_b", F.pmod(F.xxhash64("fp"), F.lit(n_buckets)).cast("int")
    )


def winnow_candidates(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    max_members: int | None = None,
    n_buckets: int = 128,
) -> DataFrame:
    """Near-dup candidate pairs over a streaming or batch document
    frame (streaming/replay.py:run_stateful).

    n_buckets: the stateful operator groups by pmod(xxhash64(fp),
    n_buckets) (see _BucketPairsAuto); the emitted set does not depend
    on it. The default 128 is the production dial (>= 2-4x total
    cores)."""
    fps = winnow_fingerprints(df, text, id_col, k=k, window=window)
    return run_stateful(
        _bucketed(fps, n_buckets), ["_b"], _BucketPairsAuto(max_members),
        _OUT_SCHEMA,
    )


def decontam_winnow_stream(
    stream_docs: DataFrame,
    ref_docs: DataFrame,
    text: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Fuzzy DECONTAMINATION AT INGEST: flag arriving documents that
    share >= min_shared winnowing fingerprints with a STATIC benchmark
    corpus — the streaming face of the batch cross-corpus family
    (dedup.dedup_minhash_lsh_cross / pipeline.decontaminate), catching
    long verbatim benchmark passages (the winnowing guarantee: any
    shared run of >= k + window - 1 tokens) the moment a training doc
    arrives instead of in a nightly sweep.

    Plan: the benchmark's distinct fingerprint set is a STATIC side
    (computed once per run, broadcast — fingerprints are ~1/window of
    the benchmark's grams, e.g. 92k longs for 5k docs); the stream's
    (fp, doc_id) rows broadcast-join it and a per-doc count with the
    min_shared floor flags contaminated docs. A stream-STATIC join —
    no watermark, no state beyond the per-doc counts (one counter per
    doc with >= 1 benchmark hit; docs with zero hits never enter
    state). Each doc's fingerprints arrive in its own input row, so
    every count finalizes within one micro-batch and the update-mode
    emission is one row per flagged doc — the batch join SQL, which is
    the oracle.

    At 100 TB the benchmark side is small by construction (eval sets);
    if it ever weren't, the broadcast becomes a shuffle join and the
    plan still holds — only the co-location strategy changes.
    """
    s_fps = winnow_fingerprints(stream_docs, text, id_col, k=k, window=window)
    r_fps = (
        winnow_fingerprints(ref_docs, text, id_col, k=k, window=window)
        .select("fp")
        .distinct()
    )
    hits = s_fps.join(F.broadcast(r_fps), "fp")
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
