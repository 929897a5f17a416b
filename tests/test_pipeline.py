"""run_pipeline's step contract: each step's declared reads land as
parquet before it plans, and a run that fails mid-way resumes cleanly."""

from __future__ import annotations

import json
import os

import pytest

import synthea2omop_etl_spark.plans.pipeline as pl
from tests.fixtures_synthea import raw_tables, raw_tables_full


def _is_parquet_scan(df) -> bool:
    """True when the analyzed plan is one bare parquet relation — the
    written layer read back, not a domain transform re-executed."""
    plan = df._jdf.queryExecution().analyzed().toString().strip()
    return "\n" not in plan and plan.startswith("Relation ") and "parquet" in plan


def test_derived_steps_read_written_layers(spark, tmp_path, monkeypatch):
    """The derived builds that union or cost the domain facts plan over
    the parquet read-back of every omop_* input (Step.reads). Planning
    them over the lazy domain plans instead re-executes every upstream
    transform inside the derived write — the r8 dead end, 2-3x slower."""
    seen: dict[str, list] = {}

    def spy(name, pick):
        fn = getattr(pl, name)

        def wrapper(*args, **kwargs):
            seen[name] = [df for df in pick(*args) if df is not None]
            return fn(*args, **kwargs)

        monkeypatch.setattr(pl, name, wrapper)

    spy("cost", lambda visit, _e, drug, _m, proc, _p: [visit, drug, proc])
    spy("observation_period",
        lambda person, dated: [person] + [df for df, _, _ in dated])
    spy("drug_era", lambda drug: [drug])
    spy("condition_era", lambda cond: [cond])

    pl.run_pipeline(spark, raw_tables(spark), output_dir=str(tmp_path / "omop"))

    assert len(seen["cost"]) == 3
    assert len(seen["observation_period"]) == 7
    assert seen["drug_era"] and seen["condition_era"]
    for name, inputs in seen.items():
        for df in inputs:
            assert _is_parquet_scan(df), (
                f"{name} planned over an unwritten layer:\n"
                f"{df._jdf.queryExecution().analyzed().toString()}"
            )


def _row_counts(spark, out_dir: str) -> dict[str, int]:
    return {
        name: spark.read.parquet(os.path.join(out_dir, name)).count()
        for name in sorted(os.listdir(out_dir))
        if name.startswith("omop_")
    }


def test_resume_after_failed_step(spark, tmp_path, monkeypatch):
    """A step that raises fails the run without recording its write; a
    re-run over the same ledger completes and writes the same tables as
    a clean run."""
    clean = str(tmp_path / "clean")
    pl.run_pipeline(spark, raw_tables_full(spark), output_dir=clean)

    def broken_cost(*args, **kwargs):
        raise RuntimeError("injected cost failure")

    ckpt = str(tmp_path / "ckpt.json")
    out = str(tmp_path / "omop")
    monkeypatch.setattr(pl, "cost", broken_cost)
    with pytest.raises(RuntimeError, match="injected cost failure"):
        pl.run_pipeline(
            spark, raw_tables_full(spark), checkpoint_path=ckpt, output_dir=out
        )
    with open(ckpt) as f:
        ledger = json.load(f)
    assert "write_omop_cost" not in ledger
    assert "derived_cost" not in ledger
    assert ledger["domain_person"]["completed"]

    monkeypatch.undo()
    pl.run_pipeline(
        spark, raw_tables_full(spark), checkpoint_path=ckpt, output_dir=out
    )
    with open(ckpt) as f:
        ledger = json.load(f)
    assert all(ledger[s.name]["completed"] for s in pl.ETL_STEPS)
    counts = _row_counts(spark, out)
    assert counts == _row_counts(spark, clean)
    assert counts["omop_cost"] > 0
