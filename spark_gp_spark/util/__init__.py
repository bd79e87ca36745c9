from .integrator import expected_of_function_of_normal
from .linalg import logdet_and_inv

__all__ = ["expected_of_function_of_normal", "logdet_and_inv"]
