"""Batch-task builder/sink + keyed result join (S18-S20).

Reference flow (src/gpt/openai_api.py:293-363, 393-500;
src/cli/run_batchapi.py): accumulate tasks ``{custom_id: "task-{i}", body}``,
save JSONL chunked at 50,000 tasks/file, submit, poll, download, then re-join
results to inputs PURELY BY FILE ORDER (``pop(0)``) — correctness depends on
identical iteration order between submit and retrieve runs.

Spark restatement replaces the positional zip with a keyed equi-join on
``custom_id`` (same semantics, order-safe, resumable) — the reference's only
"join" made explicit. The HTTP submit/poll control plane stays driver-side
(it is not a data-parallel operation); here it is stubbed by a deterministic
local responder so the whole loop is testable hermetically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BATCH_FILE_CHUNK = 50_000  # openai_api.py:348


def build_batch_tasks(
    examples: DataFrame,
    model: str = "gpt-4o-mini-2024-07-18",
    temperature: float = 0.2,
    top_p: float = 0.9,
    seed: int = 0,
    max_tokens: int = 4096,
    bucket_chars: int = 2,
) -> DataFrame:
    """examples (example_id, prompt) -> Batch-API task rows.

    custom_id = "task-{i}" with i a dense row number (parity with
    openai_api.py:318); the (example_id -> custom_id) mapping column makes
    the later keyed re-join explicit. Defaults mirror configs/config_gpt.yaml.

    Numbering is deterministic WITHOUT a global single-partition window
    (the r1 form, Window.orderBy with no partitionBy, funneled every row
    through one partition — a scale-killer for the 100 TB batch builder):
    rows are bucketed by an md5 prefix of example_id (uniform, pure function
    of the key — so the two passes below can never disagree), per-bucket
    counts (map-side combine, 16^bucket_chars rows) become broadcast
    offsets, and a per-bucket window assigns offset + local row_number.
    Global order = (md5_prefix, example_id) — SQL-replicable, see the q22
    oracle. Raise ``bucket_chars`` for more numbering parallelism at scale.
    """
    b = F.substring(F.md5(F.col("example_id").cast("binary")), 1, bucket_chars)
    # localCheckpoint: the counts pass (offsets) and the numbering pass must
    # see the IDENTICAL row set — if the input were nondeterministic or its
    # source changed between the two jobs, offsets would disagree with
    # per-bucket row counts and custom_ids could collide. Lazy: the counts
    # action below materializes it; no extra job.
    bucketed = examples.withColumn("_bucket", b).localCheckpoint(eager=False)
    counts = bucketed.groupBy("_bucket").agg(F.count("*").alias("_n")).collect()
    offs, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_bucket"]):
        offs.append((r["_bucket"], acc))
        acc += r["_n"]
    odf = examples.sparkSession.createDataFrame(
        offs, "_bucket string, _offset long"
    )
    w = Window.partitionBy("_bucket").orderBy("example_id")
    return bucketed.join(F.broadcast(odf), "_bucket").withColumn(
        "custom_id",
        F.concat(
            F.lit("task-"),
            (F.col("_offset") + F.row_number().over(w) - 1).cast("string"),
        ),
    ).select(
        "custom_id",
        "example_id",
        F.struct(
            F.lit(model).alias("model"),
            F.lit(temperature).alias("temperature"),
            F.lit(max_tokens).alias("max_tokens"),
            F.lit(top_p).alias("top_p"),
            F.lit(seed).alias("seed"),
            F.lit(1).alias("n"),
            F.col("prompt").alias("messages"),
        ).alias("body"),
    )


def save_batch_files(tasks: DataFrame, path: str,
                     max_records_per_file: int = BATCH_FILE_CHUNK) -> None:
    """JSONL sink chunked at 50k tasks/file (openai_api.py:348-363)."""
    (
        tasks.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .json(path)
    )


def join_results(inputs: DataFrame, results: DataFrame) -> DataFrame:
    """Keyed equi-join on custom_id (replaces run_batchapi.py:68 pop(0))."""
    return inputs.join(results, "custom_id", "inner")


# ---------------------------------------------------------------------------
# Control plane (S19): submit / poll / retrieve with an injectable client.
#
# The reference flow (openai_api.py:393-500 + the run_batchapi.py:17-23
# poll loop): upload each 50k-chunk file, create one batch job per file,
# persist batch_id_list.jsonl, poll every job to a terminal status, then
# download and parse each job's output file. That flow is driver-side
# CONTROL (no data-parallel work), so it is expressed here against a
# minimal client protocol —
#     upload_file(path) -> file_id
#     create_batch(file_id) -> batch_id
#     batch_status(batch_id) -> str
#     download_results(batch_id, dest_path) -> None
# — with the real OpenAI client slotting in exactly where
# LocalBatchClient (a deterministic file-backed stand-in; no network in
# this sandbox) does in tests. Retrieval hands the downloaded JSONL back
# to Spark, where the keyed custom_id join replaces the reference's
# order-dependent pop(0).
# ---------------------------------------------------------------------------

TERMINAL_BATCH_STATUSES = {"completed", "failed", "expired", "cancelled"}


class LocalBatchClient:
    """Deterministic Batch-API stand-in over the local filesystem.

    Status advances one step PER POLL — validating -> in_progress ->
    completed — so the poll loop demonstrably iterates rather than
    short-circuiting. Results echo the task's custom_id (or run an
    injected ``responder(messages, params) -> (text, finish_reason)``,
    the same seam syncgen uses), written as the reference's output-file
    JSONL shape."""

    _LADDER = ["validating", "in_progress", "completed"]

    def __init__(self, workdir: str, responder=None):
        import os

        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.responder = responder
        self._files: dict[str, str] = {}
        self._batches: dict[str, str] = {}
        self._polls: dict[str, int] = {}

    def upload_file(self, path: str) -> str:
        fid = f"file-{len(self._files)}"
        self._files[fid] = path
        return fid

    def create_batch(self, file_id: str) -> str:
        bid = f"batch-{len(self._batches)}"
        self._batches[bid] = file_id
        self._polls[bid] = 0
        return bid

    def batch_status(self, batch_id: str) -> str:
        n = self._polls[batch_id]
        self._polls[batch_id] = n + 1
        return self._LADDER[min(n, len(self._LADDER) - 1)]

    def download_results(self, batch_id: str, dest_path: str) -> None:
        import json as _json

        with open(self._files[self._batches[batch_id]]) as f, \
                open(dest_path, "w") as out:
            for line in f:
                if not line.strip():
                    continue
                task = _json.loads(line)
                if self.responder is not None:
                    body = task["body"]
                    text, _fr = self.responder(
                        body["messages"],
                        {k: v for k, v in body.items() if k != "messages"},
                    )
                else:
                    text = f"echo:{task['custom_id']}"
                out.write(_json.dumps({
                    "custom_id": task["custom_id"],
                    "generated_text": text,
                }) + "\n")


def submit_batches(client, batch_files_dir: str, state_path: str) -> list[str]:
    """Upload every task chunk file and create one batch job per file;
    persist the (file, batch_id) list as batch_id_list.jsonl — the
    resumable handle the reference writes (openai_api.py:393-430)."""
    import glob
    import json as _json
    import os

    if os.path.isfile(batch_files_dir):
        files = [batch_files_dir]  # a single task file is a valid input
    else:
        files = sorted(
            p for p in glob.glob(os.path.join(batch_files_dir, "*"))
            if os.path.basename(p).startswith("part-") or p.endswith(".json")
            or p.endswith(".jsonl")
        )
    if not files:
        # without this, zero uploads -> empty state file -> poll_batches
        # vacuously "all terminal" -> empty results: the whole job would
        # exit rc=0 having silently submitted NOTHING
        raise FileNotFoundError(
            f"no task files found at {batch_files_dir!r} (expected the "
            f"directory written by save_batch_files, or one JSONL file)")
    records = []
    for f in files:
        fid = client.upload_file(f)
        bid = client.create_batch(fid)
        records.append({"file": f, "file_id": fid, "batch_id": bid})
    with open(state_path, "w") as out:
        for r in records:
            out.write(_json.dumps(r) + "\n")
    return [r["batch_id"] for r in records]


def poll_batches(client, state_path: str,
                 max_polls: int = 1000) -> dict[str, str]:
    """Poll every submitted job to a terminal status (run_batchapi.py:
    17-23 loop semantics, bounded by max_polls instead of forever). The
    loop does not sleep: a client for a remote service paces its own
    ``batch_status`` calls."""
    import json as _json

    with open(state_path) as f:
        bids = [_json.loads(ln)["batch_id"] for ln in f if ln.strip()]
    statuses = {b: "" for b in bids}
    for _ in range(max_polls):
        for b in bids:
            if statuses[b] not in TERMINAL_BATCH_STATUSES:
                statuses[b] = client.batch_status(b)
        if all(s in TERMINAL_BATCH_STATUSES for s in statuses.values()):
            return statuses
    raise TimeoutError(f"batches not terminal after {max_polls} polls: "
                       f"{statuses}")


def retrieve_batches(spark, client, state_path: str, out_dir: str,
                     statuses: dict[str, str] | None = None) -> DataFrame:
    """Download every COMPLETED job's output file and hand the results to
    Spark: (custom_id, generated_text) rows for the keyed re-join.

    ``out_dir`` is cleared first: spark.read.json reads the whole
    directory, so a stale batch-N.jsonl surviving from a previous (larger)
    run would silently duplicate custom_ids through the inner join."""
    import json as _json
    import os
    import shutil

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    with open(state_path) as f:
        bids = [_json.loads(ln)["batch_id"] for ln in f if ln.strip()]
    for b in bids:
        if statuses is not None and statuses.get(b) != "completed":
            continue
        client.download_results(b, os.path.join(out_dir, f"{b}.jsonl"))
    return spark.read.schema(
        "custom_id string, generated_text string").json(out_dir)
