"""Retired: keyed streaming state is ``txn_state.TransactionalKeyState``.

The name stays importable only because the frozen benchmark tracer
wraps ``BucketedKeyState.merge_keep_latest`` by name; it goes with the
next benchmark change.
"""


class BucketedKeyState:
    """Placeholder for the retired dynamic-overwrite store."""

    def merge_keep_latest(self, *args, **kwargs):
        raise NotImplementedError(
            "BucketedKeyState is retired: use TransactionalKeyState.merge_keep_latest"
        )
