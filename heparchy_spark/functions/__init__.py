from heparchy_spark.functions.literals import (  # noqa: F401
    array_lit,
    array_sql,
    sql_ident,
)
from heparchy_spark.functions.physics import (  # noqa: F401
    eta,
    inv_mass,
    phi,
    pt,
    rapidity,
)
