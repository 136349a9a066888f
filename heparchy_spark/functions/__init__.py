from heparchy_spark.functions.literals import array_lit  # noqa: F401
from heparchy_spark.functions.physics import (  # noqa: F401
    eta,
    inv_mass,
    phi,
    pt,
    rapidity,
)
