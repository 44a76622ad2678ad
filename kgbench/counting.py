"""A backend wrapper that counts model calls and attempts.

Kept free of heavy imports: Spark's Python workers unpickle it inside
the fused inference task.
"""

from __future__ import annotations


class _Counted:
    """Forwards to ``inner``; adds 1 to ``acc`` per generate call."""

    def __init__(self, inner, acc):
        self._inner, self._acc = inner, acc

    def generate(self, prompts):
        self._acc.add(1)
        return self._inner.generate(prompts)

    def generate_chat(self, batches):
        self._acc.add(1)
        return self._inner.generate_chat(batches)

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._inner, name)


def counting_factory(factory, calls_acc, attempts_acc):
    """Wrap a backend factory. ``calls_acc`` counts calls into the
    backend the operator sees; ``attempts_acc`` counts calls that reach
    the model behind a retrying backend (its ``inner``), so a retry
    shows as attempts above calls."""

    def make():
        backend = factory()
        if hasattr(backend, "inner"):
            backend.inner = _Counted(backend.inner, attempts_acc)
            return _Counted(backend, calls_acc)
        return _Counted(_Counted(backend, attempts_acc), calls_acc)

    return make
