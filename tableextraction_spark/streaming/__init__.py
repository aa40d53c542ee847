from .stateful_assembly import run_stateful

__all__ = ["run_stateful"]
