package graft

import graft.schema._

/** Packages shared by more than one suite. */
object ValidateFixtures {

  /** Three resources with cross-resource and self-referencing foreign
    * keys, a header error (a permuted header, bound by name), and a
    * parse failure whose field's constraint and primary-key results are
    * dropped (skip semantics). `write(name, content)` writes one CSV
    * file and returns its path.
    */
  def crossResource(write: (String, String) => String): Package = {
    val region = Resource("region", write("id_region.csv",
      "name,rid\nnorth,1\nsouth,2\neast,3\n"),
      TableSchema(Seq(Field("rid", "integer"), Field("name",
        constraints = Constraints(unique = Some(true)))),
        primaryKey = Seq("rid")))
    val staff = Resource("staff", write("id_staff.csv",
      "sid,rid,boss,pay\n1,1,,10\n2,1,1,x\n3,9,2,-5\n4,2,7,3\n" +
        "4,3,1,2\n"),
      TableSchema(
        Seq(Field("sid", "integer"), Field("rid", "integer"),
          Field("boss", "integer"), Field("pay", "number",
            constraints = Constraints(minimum = Some("0")))),
        primaryKey = Seq("sid"),
        foreignKeys = Seq(
          ForeignKey(Seq("rid"), "region", Seq("rid")),
          ForeignKey(Seq("boss"), "", Seq("sid")))))
    val shift = Resource("shift", write("id_shift.csv",
      "shid,sid,day\nA,1,2024-01-01\nB,2,someday\nC,5,2024-01-01\n"),
      TableSchema(
        Seq(Field("shid", constraints = Constraints(pattern = Some("[A-Z]"))),
          Field("sid", "integer"), Field("day", "date",
            constraints = Constraints(required = Some(true)))),
        primaryKey = Seq("day"),
        foreignKeys = Seq(ForeignKey(Seq("sid"), "staff", Seq("sid")))))
    Package("graph", Seq(region, staff, shift))
  }
}
