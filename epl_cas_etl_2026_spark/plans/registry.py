"""The one query registry. Every plan module registers through
:func:`register`; ``plans/__init__.py`` imports the modules in a fixed
order (that order is the registration order the gate policy breaks
ties on) and publishes the gate-ordered view."""

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
