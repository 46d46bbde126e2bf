"""Engine semantic knobs.

The reference is internally inconsistent in several places (SURVEY.md 1.4);
this config records the decision the engine takes for each, with the
reference citation. Everything is overridable per-call.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # Rule thresholds (FinFraudGuard.java:82-83; RTFraudScan.txt:55-63).
    score_threshold: int = 200          # FRAUD iff score < 200
    speed_threshold_kms: float = 0.25   # FRAUD iff speed > 0.25 km/s (code wins over README's 500 km/h)
    ucl_sigma: float = 3.0              # UCL = avg + 3 * stddev_pop (FDProcBatch.txt:308)
    ucl_last_n: int = 10                # over last 10 GENUINE txns (FDProcBatch.txt:293)

    # Timestamp handling (SURVEY.md 1.4(1)): canonical batch format wins;
    # the streaming dd-MM-yyyy variant is accepted via `input_ts_formats`.
    ts_format: str = "yyyy-MM-dd HH:mm:ss"
    input_ts_formats: tuple[str, ...] = ("yyyy-MM-dd HH:mm:ss", "dd-MM-yyyy HH:mm:ss")

    # Status vocabulary (SURVEY.md 1.4(6)): canonical GENUINE/FRAUD,
    # case-insensitive on read (HBaseTransLink.java:76 uses equalsIgnoreCase).
    status_genuine: str = "GENUINE"
    status_fraud: str = "FRAUD"

    # Null policy (SURVEY.md 1.4(7)): a NULL rule input means that rule
    # cannot prove fraud -> it passes; dt <= 0 makes the speed rule fire.
    nonpositive_dt_is_fraud: bool = True


DEFAULT_CONFIG = EngineConfig()
