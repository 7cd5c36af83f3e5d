"""Workload ``editor_session``: the reference editor's own loop.

One client drives an ``EditorSession`` in a closed loop: open
lineitem (``load`` + ``with_rid`` + the first preview page), then
seeded steps of ``set_cell`` on a numeric column, a ``preview`` page at
a seeded offset and a ``pivot_table`` mean (l_returnflag x
l_linestatus of l_extendedprice) read of the edited table, with seeded
undo/redo bursts, each followed by a pivot re-read.  The first
``GATED_STEPS`` steps always run; more run while time remains.  Then
the edited table is saved to parquet.

Correctness is checked after the timed region: the same edits, undos
and redos are replayed on a pandas copy, and every preview page, every
pivot (against ``pd.pivot_table``, the reference's own engine) and the
saved file are compared with it.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pandas as pd

import plans
from spans import Tracer, force_plan, retained_storage_mb

TABLE = "li"
PAGE = 50
PIVOT = ("l_returnflag", "l_linestatus", "l_extendedprice", "mean")
SETUP_REPS = 3
#: op_p50_s is the median of the first GATED_STEPS steps of the plan
#: (with the undo/redo bursts between them), the same steps on every
#: commit: a step's cost grows with the overlay's depth until
#: compaction, so a median over however many steps fit in the time
#: would measure deeper overlays on a faster program.  Steps after
#: them, while time remains, are reported apart.
GATED_STEPS = 6
#: the gated prefix stops early only past CAP_FACTOR x --seconds
CAP_FACTOR = 3


def _pivot(tr, sess, name: str = TABLE):
    from parquet_editor_spark.operators import query as q

    with tr.span("query.pivot_table.build", "build"):
        df = q.pivot_table(sess.get(name), *PIVOT)
    if tr.enabled:
        with tr.span("query.pivot_table.plan", "plan"):
            force_plan(df)
    with tr.span("query.pivot_table.exec", "exec"):
        return df.toPandas()


def _open(tr, sess, name: str, path: str):
    with tr.span("session.load", "build"):
        sess.load(name, path)
    with tr.span("edit.with_rid", "build"):
        sess.with_rid(name)
    with tr.span("session.preview", "exec"):
        return sess.preview(name, PAGE, 0)


def _is_compacted(df) -> bool:
    """An auto-compacted binding is a local checkpoint: its logical
    plan is a bare RDD scan instead of the edit overlay."""
    return df._jdf.queryExecution().logical().getClass().getSimpleName() == "LogicalRDD"


def _throwaway_open(sess, path: str, edit: bool) -> float:
    """Open a throwaway table (and, with ``edit``, run one step and an
    undo on it), then drop it; returns the wall."""
    t0 = time.perf_counter()
    tr = Tracer(sess.spark, False, "setup")
    _open(tr, sess, "warm", path)
    if edit:
        sess.set_cell("warm", 0, "l_quantity", 1.0)
        sess.preview("warm", PAGE, PAGE)
        _pivot(tr, sess, "warm")
        sess.undo("warm")
    sess.drop_table("warm")
    sess.spark.catalog.clearCache()
    return time.perf_counter() - t0


def run(ctx) -> dict:
    t_setup = time.perf_counter()
    from parquet_editor_spark import EditorSession, SessionSettings

    spark, tr = ctx.spark, ctx.tracer
    path = str(ctx.data_dir / "lineitem.parquet")
    sess = EditorSession(spark, SessionSettings(path=str(ctx.work_dir / "settings.json")))

    # set-up: one throwaway open-and-edit warms the JVM and the Python
    # workers; the repeated part is a plain throwaway open
    _throwaway_open(sess, path, edit=True)
    setup_reps = [_throwaway_open(sess, path, edit=False) for _ in range(SETUP_REPS)]

    n_rows = pd.read_parquet(path, columns=["l_orderkey"]).shape[0]
    plan = plans.editor_plan(ctx.seed, n_rows, PAGE)
    gated = plans.gated_prefix(plan, GATED_STEPS)
    log: list[dict] = []
    steps, extra_steps, undos = [], [], []
    compactions = jobful_set_cells = 0

    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    cap = t_start + CAP_FACTOR * ctx.seconds
    with tr.span("open"):
        page0 = _open(tr, sess, TABLE, path)
    open_s = time.perf_counter() - t_start
    log.append({"kind": "open", "page": page0, "offset": 0})
    last = open_s
    for i, op in enumerate(plan):
        # the gated prefix runs whole unless it overruns the cap; after
        # it, an operation starts only if one as long as the last still
        # ends by the deadline
        now = time.perf_counter()
        if now > cap or (i >= gated and now + last > deadline):
            break
        t0 = time.perf_counter()
        if isinstance(op, plans.Step):
            with tr.span("step"):
                with tr.span("session.set_cell", "build") as rec:
                    sess.set_cell(TABLE, op.rid, op.column, op.value)
                with tr.span("session.preview", "exec"):
                    page = sess.preview(TABLE, PAGE, op.offset)
                piv = _pivot(tr, sess)
            last = time.perf_counter() - t0
            (steps if i < gated else extra_steps).append(last)
            if tr.enabled:
                compactions += _is_compacted(sess.get(TABLE))
                jobful_set_cells += rec["jobs"] > 0
            log.append({"kind": "step", "op": op, "page": page, "pivot": piv})
        else:
            with tr.span(op):
                with tr.span(f"session.{op}", "build"):
                    getattr(sess, op)(TABLE)
                piv = _pivot(tr, sess)
            last = time.perf_counter() - t0
            undos.append(last)
            log.append({"kind": op, "pivot": piv})
    out_dir = ctx.work_dir / "saved.parquet"
    t0 = time.perf_counter()
    with tr.span("io.save", "exec"):
        sess.save(TABLE, str(out_dir), "parquet")
    save_s = time.perf_counter() - t0
    retained_mb = retained_storage_mb(spark)
    bytes_written = sum(f.stat().st_size for f in out_dir.rglob("*") if f.is_file())

    attempted, failed, errors = check(log, path, out_dir)
    sess.drop_table(TABLE)
    spark.catalog.clearCache()

    tail = plans.tail(steps + extra_steps)
    report = {
        "open_s": open_s,
        "step_p50_s": plans.median(steps),
        "gated_steps": len(steps),
        "step_walls_s": steps,
        "extra_step_p50_s": plans.median(extra_steps),
        "extra_step_walls_s": extra_steps,
        "step_tail_s": tail.value if tail else None,
        "step_tail_percentile": tail.percentile if tail else None,
        "undo_p50_s": plans.median(undos),
        "undo_redo_ops": len(undos),
        "save_s": save_s,
        "retained_storage_mb": retained_mb,
    }
    layers = {}
    if tr.enabled:
        layers = {
            "session.compactions": compactions,
            "session.set_cell.jobful_calls": jobful_set_cells,
            "io.bytes_written_mb": bytes_written / 1e6,
        }
    return {
        "setup_reps_s": setup_reps,
        "setup_wall_s": t_start - t_setup,
        "op_p50_s": report["step_p50_s"],
        "ops": 2 + len(steps) + len(extra_steps) + len(undos),  # open and save count as ops
        "report": report,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
    }


# ---------------------------------------------------------------- checks
def _same_page(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    want = want.reset_index(drop=True)
    got = got.reset_index(drop=True)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in want.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_datetime64_any_dtype(b):
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        if not np.array_equal(a.to_numpy(), b.to_numpy()):
            return False
    return True


def _same_pivot(got: pd.DataFrame, model: pd.DataFrame) -> bool:
    index, columns, values, aggfunc = PIVOT
    want = pd.pivot_table(model, index=index, columns=columns, values=values, aggfunc=aggfunc)
    got = got.set_index(index)
    if list(got.index) != list(want.index) or list(got.columns) != list(want.columns):
        return False
    return np.allclose(got.to_numpy(float), want.to_numpy(float), rtol=1e-9, atol=0.0)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def check(log: list[dict], path: str, saved: Path) -> tuple[int, int, list[str]]:
    """Replay the session on pandas; returns (attempted, failed, errors)."""
    model = pd.read_parquet(path)
    undo: list[tuple] = []
    redo: list[tuple] = []
    attempted = failed = 0
    errors: list[str] = []

    def verdict(ok: bool, what: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            errors.append(what)

    for i, rec in enumerate(log):
        kind = rec["kind"]
        if kind == "step":
            op = rec["op"]
            old = model.at[op.rid, op.column]
            model.at[op.rid, op.column] = op.value
            undo.append((op.rid, op.column, old, op.value))
            redo.clear()
            verdict(
                _same_page(rec["page"], model.iloc[op.offset : op.offset + PAGE]),
                f"op {i}: preview page at {op.offset} differs",
            )
        elif kind == "undo":
            rid, col, old, new = undo.pop()
            model.at[rid, col] = old
            redo.append((rid, col, old, new))
        elif kind == "redo":
            rid, col, old, new = redo.pop()
            model.at[rid, col] = new
            undo.append((rid, col, old, new))
        else:
            verdict(_same_page(rec["page"], model.iloc[:PAGE]), "open: first page differs")
        if "pivot" in rec:
            verdict(_same_pivot(rec["pivot"], model), f"op {i} ({kind}): pivot differs")
    saved_df = pd.read_parquet(saved)
    ok = list(saved_df.columns) == list(model.columns) and _same_page(
        _sorted(saved_df), _sorted(model)
    )
    verdict(ok, "saved parquet differs from the replayed table")
    return attempted, failed, errors
