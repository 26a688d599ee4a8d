package object perfbench {

  /** Verifies one operation's result after its clock stops: None when the
    * result is right, else a description of the difference.
    */
  type Check = () => Option[String]
}
