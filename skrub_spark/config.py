"""Engine configuration — parity with skrub/_config.py
(get_config / set_config / config_context)."""

from __future__ import annotations

import contextlib
import threading

_DEFAULTS = {
    # cardinality threshold used by TableVectorizer when not given
    "cardinality_threshold": 40,
    # float display (parity with skrub's display options; unused in
    # computation)
    "float_precision": 3,
    "use_table_report": False,
}

_state = threading.local()


def _current() -> dict:
    if not hasattr(_state, "config"):
        _state.config = dict(_DEFAULTS)
    return _state.config


def get_config() -> dict:
    return dict(_current())


def set_config(**kwargs) -> None:
    cfg = _current()
    for k, v in kwargs.items():
        if k not in _DEFAULTS:
            raise ValueError(
                f"unknown config key {k!r}; valid keys: {sorted(_DEFAULTS)}"
            )
        cfg[k] = v


@contextlib.contextmanager
def config_context(**kwargs):
    old = get_config()
    try:
        set_config(**kwargs)
        yield
    finally:
        _state.config = old
