"""Print every pinned trainer and tuning literal: the GD, Adam,
mini-batch and train-then-serve oracles in ml/train_distributed.py and
the champion oracles in ml/arch_search.py.

Run from the repository root after any change to the trainer math, the
search spaces, the schedules or the seeds, once per pinned corpus (the
oracles pin the sf0.01 and sf0.001 test corpora):

    python scripts/pin_arch_search.py SF_DIR [SF_DIR ...]

The trainer literals come from the serial numpy twin; train-then-serve
and the champions come from the registered entries, on the session
``get_spark`` builds for this host. Prints the literals to paste; does
NOT edit files (pinning is a reviewed, committed act — the oracle is
the contract).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from backend_model_spark.ml import train_distributed as td
from backend_model_spark.ml.arch_search import _search, _search_subsample
from backend_model_spark.session import get_spark


def _q6(v: float) -> int:
    return math.floor(v * 1e6 + 0.5)


def _pin(spark, sf_dir: str) -> None:
    print(f"# {sf_dir}: COUNT(*) = {len(td.load_xy_serial(sf_dir)[1])}")
    wg, lg = td.train_serial(sf_dir)
    wa, la = td.train_serial(sf_dir, lr=td.ADAM_LR, opt="adam")
    wm, lm = td.train_serial(
        sf_dir, lr=td.MB_LR, epochs=td.MB_EPOCHS, num_batches=td.MB_NUM_BATCHES
    )
    fits = {
        "MLP_TRAIN_ORACLE": (wg, lg, {
            "loss_monotone": all(b < a for a, b in zip(lg, lg[1:])),
            "beats_mean": lg[-1] < 1.0,
        }),
        "MLP_TRAIN_ADAM_ORACLE": (wa, la, {
            "loss_decreased": la[-1] < la[0],
            "beats_mean": la[-1] < 1.0,
            "adam_beats_gd": la[-1] < lg[-1],
        }),
        "MLP_TRAIN_MINIBATCH_ORACLE": (wm, lm, {
            "loss_decreased": lm[-1] < lm[0],
            "beats_mean": lm[-1] < 1.0,
            "beats_gd_equal_passes": lm[-1] < lg[td.MB_EPOCHS + 1],
        }),
    }
    for name, (wts, losses, flags) in fits.items():
        print(
            f"#   {name}: loss_first_q={_q6(losses[0])} "
            f"loss_final_q={_q6(losses[-1])} "
            f"weight_checksum={td.weight_checksum(wts)} {flags}"
        )
    s = td.mlp_train_then_serve(spark, sf_dir).first()
    print(
        f"#   MLP_TRAIN_SERVE_ORACLE: rmse_cents={s['rmse_cents']} "
        f"mae_cents={s['mae_cents']} bias_cents={s['bias_cents']} "
        f"(mae_le_rmse={s['mae_le_rmse']}, "
        f"serve_matches_train={s['serve_matches_train']})"
    )

    r = _search(spark, sf_dir)
    g, t = r["grid"], r["tpe"]
    win = "grid" if (g[3], "grid") < (t[3], "tpe") else "tpe"
    print(f"#   grid: h1={g[0]} h2={g[1]} lr_e4={g[2]} loss_q={g[3]} n={g[4]} win={win=='grid'}")
    print(f"#   tpe:  h1={t[0]} h2={t[1]} lr_e4={t[2]} loss_q={t[3]} n={t[4]} win={win=='tpe'}")
    u = _search_subsample(spark, sf_dir)
    print(
        f"#   sub:  h1={u[0]} h2={u[1]} lr_e4={u[2]} sub_loss_q={u[3]} "
        f"full_loss_q={u[4]} n={u[5]}"
    )


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    spark = get_spark("pin-arch-search")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for sf_dir in sys.argv[1:]:
            _pin(spark, sf_dir)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
